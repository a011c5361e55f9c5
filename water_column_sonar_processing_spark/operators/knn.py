"""k-nearest-neighbor join via cell k-ring expansion + sort-merge.

The scale path for "nearest N documents/pings to each query point": instead
of a cross join (O(Q*C)), each query explodes into its (2r+1)^2 Chebyshev
ring of grid cells (or the 1+3k(k+1) hex k-ring) and equi-joins the corpus
on cell id — a shuffle-on-key sort-merge join whose cost is proportional to
true candidate counts. Top-k by distance is a row_number window.

Reference analog: nearest-grid interpolation (cruise/resample_regrid.py:94-107)
and the chunked point-lookup pattern (geometry/elevation_manager.py:52-82).

Semantics (deterministic, oracle-checkable): candidate set = corpus points
whose cell is within ring distance r (grid variant: lon wraps, lat clamps;
hex variant is planar — no dateline wrap, see knn_hex); rank by
squared planar degree distance with ties broken by corpus id; keep k.
This is a bounded-radius kNN: points with no corpus neighbor within the
ring radius return fewer than k rows (callers pick r for their density).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells, geo


def _grid_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    ring: int = 1,
    res: int = 7,
    query_id: str = "url",
    corpus_id: str = "url",
    lat: str = "lat",
    lon: str = "lon",
    salt_buckets: int | None = None,
    corpus_prepared: DataFrame | None = None,
) -> DataFrame:
    """The k-ring candidate join shared by knn_grid and the density tests:
    (q_id, q_lat, q_lon, n_id, n_lat, n_lon) for every corpus point whose
    cell lies within Chebyshev ring distance `ring` of the query's cell
    (lon wraps, lat clamps). Exposed separately so tests can pin the
    CANDIDATE count a resolution policy generates, not just the final
    top-k.

    salt_buckets (r5): the north rule's mandated salted repartition on
    cell id, wired into the one production shuffle equi-join whose key is
    genuinely skewed (hot coastal/urban cells put ~35% of the corpus in
    2 cells — fixtures/pages_gen.py:36-39). The corpus side salts by row
    id (operators/skew.add_salt), the exploded query-ring side replicates
    x salt_buckets (explode_salt), and the join key becomes
    (gx, gy, salt) — a hot cell's corpus rows spread over salt_buckets
    tasks at the cost of ring-side replication. Result-identical to the
    unsalted join (pinned by pytest); measured effect in BENCH/NOTES.md
    (r5 salting table). Default None = unsalted (AQE skew-join is the
    runtime backstop).

    corpus_prepared (r5): a frame from prepare_corpus_cells(corpus, res)
    — already projected to (n_id, n_lat, n_lon, j_gx, j_gy), hash-
    partitioned AND sorted on the join keys, and checkpointed. The join
    then reuses that partitioning/ordering (no corpus-side Exchange or
    Sort per call); knn_grid_adaptive's round loop joins the same frame,
    so it pays the corpus shuffle ONCE instead of once per round.
    Mutually exclusive with salt_buckets (salting re-keys the join)."""
    if corpus_prepared is not None and salt_buckets:
        raise ValueError("corpus_prepared and salt_buckets are mutually exclusive")
    if corpus_prepared is not None:
        _check_prepared(corpus_prepared, res)
    q_gx, q_gy = cells.grid_cell_xy(F.col(lat), F.col(lon), res)
    q = (
        queries.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
        .select(
            F.col(query_id).alias("q_id"),
            F.col(lat).alias("q_lat"),
            F.col(lon).alias("q_lon"),
            q_gx.alias("q_gx"),
            q_gy.alias("q_gy"),
        )
    )
    q_exp = _ring_cells(q, ring, str(2 * (1 << res)), ["q_id", "q_lat", "q_lon"])
    if corpus_prepared is not None:
        c = corpus_prepared
    else:
        c = _project_corpus_cells(corpus, res, corpus_id, lat, lon)
    if salt_buckets:
        from . import skew

        c = skew.add_salt(c, salt_buckets, "n_id")
        q_exp = skew.explode_salt(q_exp, salt_buckets)
        return (
            q_exp.join(c, ["j_gx", "j_gy", "_salt"])
            .drop("_salt")
            .filter(F.col("q_id") != F.col("n_id"))
        )
    return _cell_join(q_exp, c)


def _ring_cells(q: DataFrame, ring: int, nx: str, keep: list[str]) -> DataFrame:
    """THE ring builder of the cell join: each (q_gx, q_gy) row explodes
    into the join keys (j_gx, j_gy) of every cell within Chebyshev
    distance `ring`, as one SQL expression (not one py4j call per offset
    literal). dx is taken mod `nx` (SQL text; lon wraps): when 2*ring+1 >
    nx the distinct columns keep a wrapped cell from being joined twice,
    which would duplicate candidate pairs that then eat top-k slots. dy
    is not wrapped (rows past the poles match nothing). `keep` columns
    ride along."""
    return q.selectExpr(
        *keep,
        "q_gy",
        f"explode(array_distinct(transform(sequence(-{ring}, {ring}), d -> pmod(q_gx + d, {nx})))) AS j_gx",
    ).selectExpr(*keep, "j_gx", f"explode(sequence(q_gy - {ring}, q_gy + {ring})) AS j_gy")


def _project_corpus_cells(
    corpus: DataFrame, res: int | list[int], corpus_id: str, lat: str, lon: str
) -> DataFrame:
    """The ONE corpus-side projection for the cell join — shared by the
    per-call path, prepare_corpus_cells and the escalation loop so
    null/NaN guards and column shape cannot drift between them:
    (n_id, n_lat, n_lon, j_gx, j_gy) at `res`, or, for a list of tiers,
    one row per point and tier, keyed (_t, j_gx, j_gy)."""
    c = corpus.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull()).select(
        F.col(corpus_id).alias("n_id"), F.col(lat).alias("n_lat"), F.col(lon).alias("n_lon")
    )
    if isinstance(res, list):
        c = c.selectExpr("*", f"explode(array({', '.join(map(str, res))})) AS _t")
        t, tcol = F.col("_t"), ["_t"]
    else:
        t, tcol = F.lit(res), []
    c_gx, c_gy = cells.grid_cell_xy_at(F.col("n_lat"), F.col("n_lon"), t)
    return c.select("n_id", "n_lat", "n_lon", *tcol, c_gx.alias("j_gx"), c_gy.alias("j_gy"))


def prepare_corpus_cells(
    corpus: DataFrame,
    res: int,
    corpus_id: str = "url",
    lat: str = "lat",
    lon: str = "lon",
    num_partitions: int | None = None,
) -> DataFrame:
    """Project the corpus to (n_id, n_lat, n_lon, j_gx, j_gy) at `res`,
    hash-partition + sort it on the join keys, and localCheckpoint so the
    LogicalRDD keeps the partitioning/ordering metadata: every subsequent
    _grid_candidates join against it skips the corpus-side Exchange and
    Sort (the query side shuffles to match — tiny). knn_grid_adaptive
    uses it to pay the corpus shuffle once instead of once per escalation
    round. The frame is stamped with the res it was built at; a
    mismatched one is refused."""
    prepped = _project_corpus_cells(corpus, res, corpus_id, lat, lon)
    if num_partitions:
        prepped = prepped.repartition(num_partitions, "j_gx", "j_gy")
    else:
        prepped = prepped.repartition("j_gx", "j_gy")
    out = prepped.sortWithinPartitions("j_gx", "j_gy").localCheckpoint()
    out._wcsp_prep_res = res
    return out


def knn_grid(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    ring: int = 1,
    res: int = 7,
    query_id: str = "url",
    corpus_id: str = "url",
    lat: str = "lat",
    lon: str = "lon",
    salt_buckets: int | None = None,
    corpus_prepared: DataFrame | None = None,
) -> DataFrame:
    """Bounded-radius kNN on the equirect grid.

    Returns (query_id, neighbor_id, dist_sq, rank). Self-matches (same id)
    are excluded. Query side explodes x(2r+1)^2 — keep ring small; corpus
    side shuffles once on (gx, gy). salt_buckets salts that shuffle for
    hot-cell skew; corpus_prepared reuses a prepare_corpus_cells frame
    (see _grid_candidates).
    """
    cand = _grid_candidates(
        queries, corpus, ring, res, query_id, corpus_id, lat, lon,
        salt_buckets=salt_buckets, corpus_prepared=corpus_prepared,
    )
    # antimeridian-aware distance: dlon wraps (the candidate generation
    # wraps j_gx, so ranking must agree or wrapped candidates score ~360deg
    # and never make top-k)
    dist = geo.planar_deg_sq_wrapped(F.col("q_lat"), F.col("q_lon"), F.col("n_lat"), F.col("n_lon"))
    w = Window.partitionBy("q_id").orderBy(F.col("dist_sq").asc(), F.col("n_id").asc())
    return (
        cand.withColumn("dist_sq", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(k))
        .select(
            F.col("q_id").alias(query_id + "_q"),
            F.col("n_id").alias("neighbor_id"),
            F.col("dist_sq"),
            F.col("rank"),
        )
    )


def knn_hex(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    ring: int = 1,
    res: int = 7,
    query_id: str = "url",
    corpus_id: str = "url",
    lat: str = "lat",
    lon: str = "lon",
    wrap: bool = False,
) -> DataFrame:
    """Same join shape over the hex grid: query explodes into the
    1+3k(k+1) axial k-ring (hex rings are ~30% tighter than square rings
    for the same radius — fewer candidates per query).

    Default (wrap=False) KNOWN BOUNDARY (unlike knn_grid, whose gx
    wraps): the axial hex projection is planar, so candidate generation
    does NOT wrap the antimeridian and distances are unwrapped planar
    degrees — a query at lon -179.9 will not see corpus points at +179.9.
    The exact SQL oracle for the knn_join contract query pins these
    (documented) planar semantics, so the contract default stays planar.

    wrap=True closes that boundary by dateline GHOST REPLICATION: a lon
    shift of 360 deg is not a lattice translation in axial coords
    (dq = sqrt3/3*360/s is non-integral), so corpus points within
    `margin` of either dateline edge are duplicated once at lon+-360
    before projection — the planar k-ring then finds them naturally —
    and ranking uses the wrapped degree distance (identical for a ghost
    and its original). A (q_id, n_id) min-dist agg collapses the
    original/ghost pair in the degenerate whole-world-ring case. Cost:
    one corpus-side filter+union (ghost fraction ~ margin/360 of the
    corpus) plus one partial-agg shuffle on candidates; candidate-join
    shape unchanged."""
    q_q, q_r = cells.hex_cell_qr(F.col(lat), F.col(lon), res)
    q = (
        queries.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
        .select(
            F.col(query_id).alias("q_id"),
            F.col(lat).alias("q_lat"),
            F.col(lon).alias("q_lon"),
            q_q.alias("hq"),
            q_r.alias("hr"),
        )
    )
    offs = cells.hex_kring_offsets(ring)
    off = F.array(*[F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr")) for dq, dr in offs])
    q_exp = (
        q.withColumn("o", F.explode(off))
        .withColumn("j_q", F.col("hq") + F.col("o.dq"))
        .withColumn("j_r", F.col("hr") + F.col("o.dr"))
        .drop("o")
    )
    c_base = corpus.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull()).select(
        F.col(corpus_id).alias("n_id"),
        F.col(lat).alias("n_lat"),
        F.col(lon).alias("n_lon"),
    )
    if wrap:
        # lon reach of a hex k-ring: ring steps of sqrt3*s deg in q plus
        # one cell width; +2 cells of slack absorbs axial rounding
        margin = (ring + 2) * 1.7320508075688772 * cells.hex_res_size(res)
        east = c_base.filter(F.col("n_lon") > F.lit(180.0 - margin)).withColumn(
            "n_lon", F.col("n_lon") - F.lit(360.0)
        )
        west = c_base.filter(F.col("n_lon") < F.lit(-180.0 + margin)).withColumn(
            "n_lon", F.col("n_lon") + F.lit(360.0)
        )
        c_base = c_base.unionByName(east).unionByName(west)
    c_q, c_r = cells.hex_cell_qr(F.col("n_lat"), F.col("n_lon"), res)
    c = c_base.withColumn("j_q", c_q).withColumn("j_r", c_r)
    cand = q_exp.join(c, ["j_q", "j_r"]).filter(F.col("q_id") != F.col("n_id"))
    if wrap:
        dist = geo.planar_deg_sq_wrapped(
            F.col("q_lat"), F.col("q_lon"), F.col("n_lat"), F.col("n_lon")
        )
        cand = (
            cand.withColumn("dist_sq", dist)
            .groupBy("q_id", "n_id")
            .agg(F.min("dist_sq").alias("dist_sq"))
        )
    else:
        dist = geo.planar_deg_sq(F.col("q_lat"), F.col("q_lon"), F.col("n_lat"), F.col("n_lon"))
        cand = cand.withColumn("dist_sq", dist)
    w = Window.partitionBy("q_id").orderBy(F.col("dist_sq").asc(), F.col("n_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(k))
        .select(
            F.col("q_id").alias(query_id + "_q"),
            F.col("n_id").alias("neighbor_id"),
            F.col("dist_sq"),
            F.col("rank"),
        )
    )


def _check_prepared(corpus_prepared: DataFrame, res: int) -> None:
    prep_res = getattr(corpus_prepared, "_wcsp_prep_res", None)
    if prep_res != res:
        # a res mismatch would equi-join numerically-coincidental cell
        # coords and silently return wrong neighbors
        raise ValueError(
            f"corpus_prepared was built at res={prep_res} (need {res}); "
            "pass a frame from prepare_corpus_cells(corpus, res)"
        )


# a density tier with up to this many queries broadcasts its query side
# into every escalation round (no corpus shuffle at all); a larger tier
# joins a corpus partitioned and sorted on (_t, j_gx, j_gy) once. 50k
# queries x ~9 ring cells x ~60 B/row ~ 27 MB — past any sane
# autoBroadcast setting.
_BROADCAST_MAX_QUERIES = 50_000


def _cell_join(q_exp: DataFrame, c: DataFrame) -> DataFrame:
    keys = [key for key in ("_t", "j_gx", "j_gy") if key in c.columns]
    return q_exp.join(c, keys).filter(F.col("q_id") != F.col("n_id"))


def _escalate(
    queries: DataFrame,
    tier,
    corpus: DataFrame,
    k: int,
    max_rounds: int,
    query_id: str,
    corpus_id: str,
    lat: str,
    lon: str,
    corpus_prepared: DataFrame | None = None,
    auto: bool = False,
) -> DataFrame:
    """Guaranteed-k kNN by trust-radius ring escalation, for queries whose
    starting resolution (`tier`, an int column) may differ row to row.

    Round i joins every remaining query's ring 2^i at its own tier to the
    corpus keyed at every live tier as (_t, j_gx, j_gy): one join per
    round serves all tiers. A query whose top-k holds k rows all within
    ring * cell_size is trusted (a farther row could be beaten by a point
    in an unexplored cell) and stops; the final round emits the rest's
    best-effort rows. Trust is decided over the rank's q_id partitioning,
    and each round is checkpointed once for its trusted rows, its
    per-tier counts and the next round's anti-join.

    auto (density tiers), decided per tier from its query count: a tier
    of up to _BROADCAST_MAX_QUERIES broadcasts its query side every
    round; the larger tiers join a corpus keyed at those tiers only,
    partitioned and sorted once. Otherwise every round is a shuffle join,
    against corpus_prepared (a prepare_corpus_cells frame, for a single
    tier at its res) when given."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1 (got {max_rounds})")
    q_gx, q_gy = cells.grid_cell_xy_at(F.col(lat), F.col(lon), tier)
    rem = (
        queries.select(
            F.col(query_id).alias("q_id"),
            F.col(lat).alias("q_lat"),
            F.col(lon).alias("q_lon"),
            tier.cast("int").alias("_t"),
            q_gx.alias("q_gx"),
            q_gy.alias("q_gy"),
        )
        .filter(F.col("q_gx").isNotNull())  # NULL/NaN coords
        .localCheckpoint(eager=False)
    )
    live = {r["_t"]: r["count"] for r in rem.groupBy("_t").count().collect()}
    big = sorted(t for t, n in live.items() if n > _BROADCAST_MAX_QUERIES) if auto else []
    if big:
        big_corpus = (
            _project_corpus_cells(corpus, big, corpus_id, lat, lon)
            .repartition("_t", "j_gx", "j_gy")
            .sortWithinPartitions("_t", "j_gx", "j_gy")
            .localCheckpoint()
        )
    w = Window.partitionBy("q_id").orderBy(F.col("dist_sq").asc(), F.col("n_id").asc())
    wq = Window.partitionBy("q_id")
    dist = geo.planar_deg_sq_wrapped(F.col("q_lat"), F.col("q_lon"), F.col("n_lat"), F.col("n_lon"))
    parts: list[DataFrame] = []
    for i in range(max_rounds):
        ring = 1 << i
        q_exp = _ring_cells(rem, ring, "shiftleft(2L, _t)", ["q_id", "q_lat", "q_lon", "_t"])
        # no usable query: any tier gives round 0's plan, empty, for its schema
        small = [t for t in sorted(live) if t not in big] if live else [0]
        big_live = [t for t in big if t in live]
        sides = []
        if small:
            c = corpus_prepared
            if c is None:
                c = _project_corpus_cells(corpus, small, corpus_id, lat, lon)
            q_small = q_exp.filter(f"_t IN ({', '.join(map(str, small))})") if big else q_exp
            sides.append(_cell_join(F.broadcast(q_small) if auto else q_small, c))
        if big_live:
            in_big = f"_t IN ({', '.join(map(str, big_live))})"
            sides.append(_cell_join(q_exp.filter(in_big), big_corpus.filter(in_big)))
        cand = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
        trust = F.lit(ring) * cells.grid_res_size_at(F.col("_t"))
        rnd = (
            cand.withColumn("dist_sq", dist)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.lit(k))
            .withColumn(
                "_ok",
                (F.count(F.lit(1)).over(wq) >= F.lit(k)) & (F.max("dist_sq").over(wq) <= trust * trust),
            )
            .select("q_id", "_t", "n_id", "dist_sq", "rank", "_ok")
        )
        if not live:
            parts.append(rnd.limit(0))
            break
        rnd = rnd.localCheckpoint(eager=False)
        if i == max_rounds - 1:
            parts.append(rnd)  # trusted rows and the stragglers' best effort
            break
        ok = rnd.filter("_ok")
        parts.append(ok)
        # the first action on rnd: materializes its checkpoint
        done = {r["_t"]: r["count"] for r in ok.filter("rank = 1").groupBy("_t").count().collect()}
        live = {t: n - done.get(t, 0) for t, n in live.items() if n > done.get(t, 0)}
        if not live:
            break
        rem = rem.join(ok.select("q_id"), "q_id", "left_anti").localCheckpoint(eager=False)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("q_id").alias(query_id + "_q"),
        F.col("n_id").alias("neighbor_id"),
        F.col("dist_sq"),
        F.col("rank"),
    )


def knn_grid_adaptive(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    res: int = 7,
    max_rounds: int = 3,
    query_id: str = "url",
    corpus_id: str = "url",
    lat: str = "lat",
    lon: str = "lon",
    corpus_prepared: DataFrame | None = None,
) -> DataFrame:
    """Guaranteed-k kNN via bounded ring escalation (classic grid-kNN
    doubling): the one-tier case of _escalate, every query at `res`. The
    driver loop is orchestration over at most max_rounds distributed
    rounds (the reference's per-file loop, resample_regrid.py:167-196)."""
    if corpus_prepared is not None:
        _check_prepared(corpus_prepared, res)
    return _escalate(
        queries, F.lit(res), corpus, k, max_rounds, query_id, corpus_id, lat, lon,
        corpus_prepared=corpus_prepared,
    )


def assign_density_res(
    queries: DataFrame,
    corpus: DataFrame,
    res: int = 7,
    res_max: int | None = None,
    step: int = 2,
    dense_threshold: int = 32,
    query_id: str = "url",
    lat: str = "lat",
    lon: str = "lon",
    out_col: str = "_knn_res",
    sample_fraction: float | None = None,
) -> DataFrame:
    """Per-query starting resolution from LOCAL corpus density (r5):
    queries in dense cells start the ring join at a FINE resolution so
    their candidate lists are bounded by fine-cell occupancy, not
    base-cell population; sparse queries keep the base res and rely on
    the outward ring doubling.

    Mechanics (shuffle-join shaped, no driver data):
    1. corpus cell counts ONCE at the finest ladder level `res_max`
       (default res+12, ~4e-4 deg at res 7: the 5M-row bench hotspots
       pack ~480k pages into 0.02-deg squares and need res 19 for
       bounded cells, which res+8 missed);
    2. every ladder level in ONE more aggregation: each fine cell adds
       its count to its ancestor at every level (gx at res r == gx at
       res_max >> (res_max - r)) — the cell-hierarchy pre-aggregation of
       "GeoBlocks" (EDBT'21);
    3. each query explodes into its (level, ancestor-cell) keys — one
       equi-join against the ladder counts, then a per-query max: chosen
       res = FINEST ladder level whose containing cell holds >=
       dense_threshold corpus points, else the base `res`.

    Returns `queries` + `out_col` (int). A query's round-1 candidate
    count is ~ring^2 x its chosen cell's occupancy, so the finest
    still-dense level caps it at O(dense_threshold x 4^step) for any
    density res_max can resolve. Correctness never depends on the choice:
    every tier runs the same trust-radius escalation.

    sample_fraction: estimate densities from a seeded Bernoulli sample of
    the corpus, each fine cell's count scaled by 1/fraction and truncated
    before the levels sum them. Safe because the assignment is a pure
    performance choice (a mis-assigned query starts at another tier and
    still gets the exact top-k); deterministic given a fixed corpus
    partitioning; None (default) = exact counts.

    Reference analog: dense-ping-region skew in the regrid neighborhoods
    (cruise/resample_regrid.py:62-78) + SURVEY §2.3's k-ring kNN graft."""
    if res_max is None:
        res_max = res + 12
    if res_max <= res or step <= 0:
        raise ValueError(f"need res_max > res and step > 0 (got res={res}, res_max={res_max}, step={step})")
    if sample_fraction is not None and not 0.0 < sample_fraction <= 1.0:
        raise ValueError(f"sample_fraction must be in (0, 1] (got {sample_fraction})")
    # finest -> coarser, excl. base; cell coords are >= 0, so the ancestor
    # at level r is a right shift by res_max - r
    levels = "explode(array({})) AS lvl".format(", ".join(str(r) for r in range(res_max, res, -step)))
    ancestor = (f"shiftright(_gx, {res_max} - lvl) AS cx", f"shiftright(_gy, {res_max} - lvl) AS cy")

    cnt_src = corpus
    cnt_expr = F.count(F.lit(1))
    if sample_fraction is not None and sample_fraction < 1.0:
        cnt_src = corpus.sample(fraction=sample_fraction, seed=42)
        cnt_expr = (cnt_expr / F.lit(sample_fraction)).cast("long")
    gx, gy = cells.grid_cell_xy(F.col(lat), F.col(lon), res_max)
    counts = (
        cnt_src.select(gx.alias("_gx"), gy.alias("_gy"))
        .filter(F.col("_gx").isNotNull())
        .groupBy("_gx", "_gy")
        .agg(cnt_expr.alias("cnt"))
        .selectExpr("_gx", "_gy", "cnt", levels)
        .selectExpr("lvl", *ancestor, "cnt")
        .groupBy("lvl", "cx", "cy")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") >= F.lit(dense_threshold))
    )
    q_keys = (
        queries.select(F.col(query_id).alias("_qid"), gx.alias("_gx"), gy.alias("_gy"))
        .filter(F.col("_gx").isNotNull())
        .selectExpr("_qid", "_gx", "_gy", levels)
        .selectExpr("_qid", "lvl", *ancestor)
    )
    chosen = (
        q_keys.join(counts, ["lvl", "cx", "cy"])  # inner: only dense levels survive
        .groupBy("_qid")
        .agg(F.max("lvl").alias(out_col))  # finest dense level
    )
    return queries.join(
        chosen.withColumnRenamed("_qid", query_id), query_id, "left"
    ).withColumn(out_col, F.coalesce(F.col(out_col), F.lit(res)))


def knn_grid_density(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    res: int = 7,
    res_max: int | None = None,
    step: int = 2,
    dense_threshold: int | None = None,
    max_rounds: int = 4,
    query_id: str = "url",
    corpus_id: str = "url",
    lat: str = "lat",
    lon: str = "lon",
    collapse_exact_dups: bool = False,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Density-adaptive guaranteed-k kNN: assign each query a starting
    resolution from local corpus density (assign_density_res), then run
    the trust-radius escalation (_escalate) once, for all tiers together.
    Same output contract as knn_grid_adaptive (true top-k for every query
    that ends trusted, best-effort rows for stragglers after max_rounds):
    the tier only bounds CANDIDATE counts.

    collapse_exact_dups (r5): no grid resolution separates identical
    coordinates (every page of a venue geocodes to one point), so the
    corpus is collapsed to the k+1 smallest ids per exact (lat, lon).
    Output-identical by the tie rule (dist, then id): co-located points
    share dist for every query, so a dropped row has >= k+1 same-
    coordinate predecessors, at most one of them the query itself, and
    within any ring they share its cell, so it can never reach a top-k,
    trusted or best-effort. The collapse runs AFTER density assignment,
    so tiers and rounds are those of collapse off. Pinned by pytest on a
    duplicated-coordinate fixture with co-located queries. Cost: one
    corpus shuffle on (lat, lon); off by default."""
    if dense_threshold is None:
        dense_threshold = max(2 * k, 16)
    assigned = assign_density_res(
        queries,
        corpus,
        res=res,
        res_max=res_max,
        step=step,
        dense_threshold=dense_threshold,
        query_id=query_id,
        lat=lat,
        lon=lon,
        sample_fraction=sample_fraction,
    )
    if collapse_exact_dups:
        # AFTER assignment: tiers come from uncollapsed density, so the
        # collapse is invisible to tier choice and escalation (docstring
        # proof); only the candidate volume shrinks
        wdup = Window.partitionBy(lat, lon).orderBy(F.col(corpus_id).asc())
        corpus = (
            corpus.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
            .withColumn("_dr", F.row_number().over(wdup))
            .filter(F.col("_dr") <= F.lit(k + 1))
            .drop("_dr")
            .localCheckpoint(eager=False)
        )
    return _escalate(
        assigned, F.col("_knn_res"), corpus, k, max_rounds, query_id, corpus_id, lat, lon, auto=True
    )
