"""Irregular-swath bilinear resampling (SURVEY.md §2.4 M6).

Reference parity: pyresample/bilinear/_base.py — 32 knn candidates →
4 bounding corners by quadrant (:523-537 strict-sign quadrants,
:316-335 nearest-valid pick), fractional distances (t, s) from the
CLOSED-FORM quadratic (_calc_abc :423-443, _solve_quadratic :382-413
with the x1 → x2 → −c/b fallback chain, _solve_another_fractional_
distance :452-470), interpolation (_resample :634-642:
p1(1−s)(1−t) + p2·s(1−t) + p3(1−s)t + p4·s·t, corners UL,UR,LL,LR).

Spark-first: candidates come from the cell-bucketed join core
(operators/knn.py _radius_pairs) with the source lon/lat/value riding
the build side and the target lon/lat riding the probe explode. The
cell join is the plan's only join: the target lon/lat ride every later
step with the rows of their target. Both neighbor schemes pick corners
with one narrow sort (a packed (dist_mm, src_id) key, a row_number
top-k cut, one min/min_by aggregate per quadrant, grouped by the
target): the cell join emits each candidate pair once under either
scheme. The closed-form (t, s) solve — the reference's full irregular →
uprights-parallel → parallelogram fallback chain — runs as staged
codegen'd projects behind Generate barriers (``_ts_chain_staged``).
No Python anywhere in the plan.

Every solve formula is written once, in the SQL-text builders below
(``ABC_SQL``, ``quad_disc``, ``quad_roots``, ``quad_root_gate``,
``lin_other_case``, ``par_t0_case``, ``par_ts_case``, ``fin_case``,
``interp_sql``). They take their operand names as arguments: the
Spark stages pass struct fields of earlier stages (``qs.qa1``,
``fs.t_irr``) and divide with try_divide, the DuckDB oracle
(queries/resample.py) passes bare CTE columns and divides with ``/``.
Determinism: corner pick tie-breaks by (dist_mm, src_id); divisions
are try_divide on Spark (NULL on zero) and bare ``/`` on DuckDB
(inf/NaN) — the shared [0, 1] gates exclude both identically.

Scale: the expensive part is the cell join (one shuffle); the solve
is O(k) per target in-row. The resulting LUT (tgt_id, 4 corner ids,
t, s) is exactly what LutCache persists — apply to any number of
channels as 4 equi-joins + a weighted-sum expression, and no
per-group Python invocation cost exists at any target count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyresample_spark.functions.exprs import generate_barrier
from pyresample_spark.operators.knn import chord_length


def _plain_div(a: str, b: str) -> str:
    """DuckDB division: x/0 → ±inf (NaN for 0/0), which every range
    gate ``0 ≤ · ≤ 1`` excludes (NaN compares high in DuckDB)."""
    return f"(({a}) / ({b}))"


def _try_div(a: str, b: str) -> str:
    """Spark ANSI division: plain ``/`` THROWS on zero even inside a
    guarded CASE (common-subexpression elimination hoists the division
    out of the guard), so the fused plan divides with try_divide —
    NULL on zero, excluded by the same gates that exclude DuckDB's
    inf/NaN. Both engines therefore drop exactly the guarded rows."""
    return f"try_divide({a}, {b})"


# the abc coefficients of both quadratics (_calc_abc), over the wide
# corner columns x1..y4 and the target xx/yy — bare names in both engines
ABC_SQL = (
    ("qa1", "(x3 - x1) * (y4 - y2) - (y3 - y1) * (x4 - x2)"),
    ("qb1", "yy * ((x4 - x2) - (x3 - x1)) - xx * ((y4 - y2) - (y3 - y1))"
            " + (x3 - x1) * y2 - (y3 - y1) * x2"
            " + (y4 - y2) * x1 - (x4 - x2) * y1"),
    ("qc1", "yy * (x2 - x1) - xx * (y2 - y1) + x1 * y2 - x2 * y1"),
    ("qa2", "(x2 - x1) * (y4 - y3) - (y2 - y1) * (x4 - x3)"),
    ("qb2", "yy * ((x4 - x3) - (x2 - x1)) - xx * ((y4 - y3) - (y2 - y1))"
            " + (x2 - x1) * y3 - (y2 - y1) * x3"
            " + (y4 - y3) * x1 - (x4 - x3) * y1"),
    ("qc2", "yy * (x3 - x1) - xx * (y3 - y1) + x1 * y3 - x3 * y1"),
)


def quad_disc(qa: str, qb: str, qc: str) -> str:
    """Discriminant b² − 4ac of the bilinear quadratic."""
    return f"{qb} * {qb} - 4.0 * {qa} * {qc}"


def quad_roots(qa: str, qb: str, qc: str, qd: str,
               div=_plain_div) -> tuple:
    """The three root candidates of _solve_quadratic, in fallback
    order: x1 = (−b + √d)/2a, x2 = (−b − √d)/2a, −c/b."""
    return (
        div(f"-({qb}) + sqrt(GREATEST({qd}, 0.0))", f"2.0 * {qa}"),
        div(f"-({qb}) - sqrt(GREATEST({qd}, 0.0))", f"2.0 * {qa}"),
        div(f"-({qc})", qb),
    )


def quad_root_gate(qa: str, qb: str, qd: str,
                   r1: str, r2: str, r3: str) -> str:
    """The first root of :func:`quad_roots` that lands in [0, 1] (the
    x1 → x2 → −c/b fallback chain). The ``<> 0`` guards in front of
    each root make the two engines' division semantics coincide, so
    both take the same branch at every gate."""
    return f"""
      CASE WHEN {qa} <> 0.0 AND {qd} >= 0.0
                AND {r1} >= 0.0 AND {r1} <= 1.0
           THEN {r1}
           WHEN {qa} <> 0.0 AND {qd} >= 0.0
                AND {r2} >= 0.0 AND {r2} <= 1.0
           THEN {r2}
           WHEN {qb} <> 0.0 AND {r3} >= 0.0 AND {r3} <= 1.0
           THEN {r3}
      END"""


def lin_other_case(f: str, ya: str, yb: str, yc: str, yd: str,
                   div=_plain_div) -> str:
    """The other fractional distance, linear in the first ``f``
    (_solve_another_fractional_distance), valid in [0, 1]; references
    the in-scope target ``yy``."""
    den = f"{yc} + ({yd} - {yc}) * {f} - {ya} - ({yb} - {ya}) * {f}"
    g = div(f"yy - {ya} - ({yb} - {ya}) * {f}", den)
    return f"""
      CASE WHEN {f} IS NOT NULL
                AND ({den}) <> 0.0
                AND {g} >= 0.0 AND {g} <= 1.0
           THEN {g}
      END"""


def par_t0_case(div=_plain_div) -> str:
    """Parallelogram t candidate (reference formula verbatim)."""
    num = "(x2 - x1) * (yy - y1) - (y2 - y1) * (xx - x1)"
    den = "(x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1)"
    q = div(num, den)
    return f"""
      CASE WHEN ({den}) <> 0.0
                AND (x2 - x1) <> 0.0
                AND {q} >= 0.0 AND {q} <= 1.0
           THEN {q}
      END"""


def par_ts_case(which: str, t0: str, div=_plain_div) -> str:
    """Parallelogram (t, s) gate over the t candidate ``t0``:
    s = (xx − x1 + (x3 − x1)·t0)/(x2 − x1) (the reference's
    '+ x31·t' term kept for parity) must land in [0, 1]; ``which``
    selects the emitted coordinate."""
    sq = div(f"xx - x1 + (x3 - x1) * {t0}", "x2 - x1")
    out = t0 if which == "t" else sq
    return f"""
      CASE WHEN {t0} IS NOT NULL
                AND {sq} >= 0.0 AND {sq} <= 1.0
           THEN {out} END"""


def fin_case(which: str, irr: tuple, up: tuple, par: tuple) -> str:
    """Fallback-chain resolution: the irregular pair when both of its
    fractions solved, else the uprights-parallel pair, else the
    parallelogram pair. ``irr``/``up``/``par`` are (t, s) operand
    names; ``which`` ("t" or "s") selects the emitted coordinate."""
    i = "ts".index(which)
    return f"""
      CASE WHEN {irr[0]} IS NOT NULL AND {irr[1]} IS NOT NULL THEN {irr[i]}
           WHEN {up[1]} IS NOT NULL AND {up[0]} IS NOT NULL THEN {up[i]}
           ELSE {par[i]} END"""


def interp_sql(t: str, s: str) -> str:
    """Bilinear interpolation of the corner values v1..v4 (p1 UL,
    p2 UR, p3 LL, p4 LR) at fractional distances (t, s)."""
    return (f"v1 * (1.0 - {s}) * (1.0 - {t}) + v2 * {s} * (1.0 - {t})"
            f" + v3 * (1.0 - {s}) * {t} + v4 * {s} * {t}")


def _ts_chain_staged(wide: DataFrame) -> DataFrame:
    """The closed-form (t, s, value) solve as STAGED codegen'd
    projects over the wide corner columns (x1..y4, v1..v4, xx, yy),
    built from the same formula builders as the DuckDB oracle with
    try_divide division. Each stage is one :func:`generate_barrier`
    selectExpr: every stage stays a plain codegen'd Project,
    CollapseProject cannot inline one stage's aliases into the next,
    and pushed filters cannot re-run the chain. A stage reads earlier
    outputs as struct fields (``qs.qa1``, ``fs.t_irr``). Emits the
    result struct column ``r`` (t, s, v) behind a final barrier so the
    caller's IS NOT NULL filter checks materialized fields."""
    dv = _try_div
    ids = ["tgt_id", "id1", "id2", "id3", "id4"]
    vals = ["v1", "v2", "v3", "v4"]
    geo = ["x1", "x2", "x3", "x4", "y1", "y2", "y3", "y4", *vals, "xx", "yy"]
    # quadratic 1 gives t on the irregular quadrilateral, quadratic 2
    # gives s with the uprights parallel; their roots are r*a / r*b
    quads = ((1, "a", "t_irr"), (2, "b", "s_up"))
    abc = {i: (f"qs.qa{i}", f"qs.qb{i}", f"qs.qc{i}") for i, _, _ in quads}
    # S1: the six quadratic coefficients (oracle CTE g1)
    s1 = generate_barrier(wide, ids + geo, list(ABC_SQL), "qs")
    # S2: discriminants (g2)
    s2 = generate_barrier(s1, ids + geo + ["qs"], [
        (f"qd{i}", quad_disc(*abc[i])) for i, _, _ in quads
    ], "ds")
    # S3: the six root candidates (inlined into g3's gates on DuckDB)
    s3 = generate_barrier(s2, ids + geo + ["qs", "ds"], [
        (f"r{j}{ab}", r)
        for i, ab, _ in quads
        for j, r in enumerate(quad_roots(*abc[i], f"ds.qd{i}", dv), 1)
    ], "rs")
    # S4: first fractional distances (g3)
    s4 = generate_barrier(s3, ids + geo, [
        (name, quad_root_gate(abc[i][0], abc[i][1], f"ds.qd{i}",
                              *(f"rs.r{j}{ab}" for j in (1, 2, 3))))
        for i, ab, name in quads
    ], "fs")
    # S5: the other fractional distances + the parallelogram t0 (g4/g5)
    s5 = generate_barrier(s4, ids + geo + ["fs"], [
        ("s_irr", lin_other_case("fs.t_irr", "y1", "y3", "y2", "y4", dv)),
        ("t_up", lin_other_case("fs.s_up", "y1", "y2", "y3", "y4", dv)),
        ("t_par0", par_t0_case(dv)),
    ], "gs")
    # S6: parallelogram (t, s) gate (g6)
    s6 = generate_barrier(s5, ids + vals + ["fs", "gs"], [
        (f"{w}_par", par_ts_case(w, "gs.t_par0", dv)) for w in "ts"
    ], "ps")
    # S7: fallback-chain resolution + interpolation (fin), emitted as
    # the final ``r`` struct behind its own barrier
    names = dict(irr=("fs.t_irr", "gs.s_irr"), up=("gs.t_up", "fs.s_up"),
                 par=("ps.t_par", "ps.s_par"))
    tf, sf = fin_case("t", **names), fin_case("s", **names)
    return generate_barrier(
        s6, ids, [("t", tf), ("s", sf), ("v", interp_sql(tf, sf))], "r"
    )


def bilinear_irregular(
    src: DataFrame,
    tgt: DataFrame,
    radius_m: float,
    k: int = 16,
    neighbor_scheme: str = "c27",
) -> DataFrame:
    """src: (src_id, lon, lat, value); tgt: (tgt_id, lon, lat) →
    (tgt_id, 4 corner ids, t, s, bilinear_value).

    FUSED plan, no Python (a reference-shaped per-target kernel in
    tests/test_bilinear.py is row-for-row equal; the DuckDB oracle
    matches in the parity suite):

    1. candidates: the shared cell join — the plan's only join — with
       the source lon/lat/value on the build side and the target
       lon/lat (``xx``/``yy``) on the probe explode in both topologies
       (broadcast source: the target is pre-partitioned by tgt_id, so
       no pair-level exchange follows; shuffle: one cell-join
       exchange, then one tgt_id exchange for the per-target steps);
    2. the strict-sign quadrant is computed per pair, the pairs
       (still carrying xx/yy) are cut to the top-k by one packed
       (dist_mm, src_id) key, and one min/min_by hash aggregate
       grouped by (tgt_id, xx, yy) picks the nearest candidate per
       quadrant and pivots the four corners;
    3. the (t, s) solve and the interpolation run as staged codegen'd
       projects behind Generate barriers (:func:`_ts_chain_staged`),
       built from the formula builders the DuckDB oracle also uses.

    ``neighbor_scheme`` passes through to the shared cell join
    (:func:`~pyresample_spark.operators.knn._radius_pairs`):
    ``"shift2"`` is the APPROXIMATE tier (own-cell probe on two
    half-shifted coarse grids — a distant corner candidate can be
    missed when a pair straddles both grids' walls). It emits each
    candidate pair once, so it runs the same corner pick, including
    the packable-id precondition ``0 <= src_id < pack``."""
    c = chord_length(radius_m)
    src2 = src.select(
        "src_id", "lon", "lat",
        F.col("lon").alias("s_lon"), F.col("lat").alias("s_lat"), "value",
    )
    from pyresample_spark.operators.knn import (
        _radius_pairs,
        _scan_bytes_hint,
        broadcast_bound,
    )

    # the probe explode carries the target's own lon/lat as xx/yy (16
    # bytes/row): the strict-sign quadrant needs them at pair level,
    # before the top-k cut, and the solve reads them after the corner
    # pick — they ride every step, so no join re-attaches them
    tgt2 = tgt.select(
        "tgt_id", "lon", "lat",
        F.col("lon").alias("xx"), F.col("lat").alias("yy"),
    )
    nbytes = _scan_bytes_hint(src)
    bound = broadcast_bound(src.sparkSession)
    if nbytes is not None and bound and nbytes <= bound:
        # Broadcast-src topology: _radius_pairs broadcasts the build
        # side, so the probe side never shuffles. The pre-explode
        # repartition hash-partitions the (1×-sized) target rows by
        # tgt_id so that (a) the downstream per-target window and
        # aggregation need NO pair-level exchange (the partitioning
        # flows through explode, broadcast join and projections) and
        # (b) the probe stage parallelizes even when the target scan
        # is a single input split. Dropping it measured slower (PERF.md
        # "Constraint propagation"). Explicit partition count
        # (defaultParallelism) so AQE cannot coalesce the tiny
        # pre-explode exchange to one task.
        npart = tgt.sparkSession.sparkContext.defaultParallelism
        tgt2 = tgt2.repartition(npart, F.col("tgt_id"))
    pairs = _radius_pairs(
        src2, tgt2, c,
        extra_src_cols=("s_lon", "s_lat", "value"),
        extra_tgt_cols=("xx", "yy"),
        neighbor_scheme=neighbor_scheme,
    )
    # Corner pick, both schemes (r18-opt narrow-sort selection;
    # replaces the r17 two-window + MAX(CASE) pivot): the pair-level top-k sort
    # was the query's dominant cost (stage-isolated at sf0.1:
    # +2.05 of 3.46 cpu-s, r18 stage probe), so the
    # sorted rows are cut to the minimum the selection needs:
    #   1. pack (dist_mm, src_id) into ONE bigint key (the
    #      knn_join idiom; order-isomorphic to the window's
    #      (dist_mm, src_id) given 0 ≤ src_id < pack, which a
    #      per-row assert enforces — an out-of-range id would
    #      silently mis-sort, so it must raise, not survive);
    #   2. compute the strict-sign quadrant BEFORE the cut (rows
    #      on an axis get NULL — they still occupy top-k slots,
    #      exactly as in the r17 plan where the q filter ran after
    #      the rank, so they ride the window and drop after);
    #   3. top-k cut: row_number over (tgt_id | k_) on rows of
    #      (tgt_id, xx, yy, q, k_, s_lon, s_lat, value) — dist_mm
    #      and src_id ride packed in k_, a single-long comparator;
    #      no exchange in the broadcast topology (rows are
    #      clustered by tgt_id);
    #   4. nearest-per-quadrant + corner pivot fused into ONE
    #      hash aggregate of primitive min()/min_by() — both
    #      DeclarativeAggregates with flat buffers, so the plan
    #      stays a codegen'd HashAggregate (no second window, no
    #      16-expression MAX(CASE) pivot); all-4-quadrants is
    #      enforced by the bᵢ NULL checks (≡ the oracle's HAVING
    #      COUNT(*) = 4);
    #   5. the aggregate groups by (tgt_id, xx, yy): xx/yy are
    #      functions of tgt_id, so the groups
    #      are the per-target groups, the tgt_id partitioning of the
    #      window already satisfies the grouping, and the corner
    #      rows leave the aggregate with the target coordinates the
    #      solve reads — no join back to the target table.
    # Equivalence with the window pair (r17 plan): per (tgt, q)
    # the window's rn2=1 row is the min of q ∩ top-k in
    # (dist_mm, src_id) order; since every q-candidate larger than
    # min(q) ranks strictly worse, q ∩ top-k is non-empty iff
    # min(q) is in the top-k, and then equals min(q) — which is
    # exactly min(k_ | q) over the rank-cut survivors. Verified
    # row-identical at sf0.1/sf0.01/sf0.001 (probe + oracle).
    # SQL-text construction throughout (r18-opt): every DataFrame
    # transformation eagerly re-analyzes the whole accumulated
    # plan, so the former Column-API chains (~150 py4j calls at
    # ~0.6 ms each plus repeated analyses) made BUILD time rival
    # execution inside the bench's timed region. Same expressions,
    # same plan — just fewer, bigger selectExpr calls.
    max_dist_mm = round(c * 1000.0)
    pack = (1 << 62) // max(max_dist_mm + 1, 1)
    key_sql = (
        f"CASE WHEN assert_true(src_id >= 0 AND src_id < {pack}L, "
        f"'bilinear_irregular: src_id outside the packable range "
        f"[0, pack) — remap ids with operators.ids.with_compact_id'"
        f") IS NULL THEN dist_mm * {pack}L + src_id END"
    )
    q_sql = (
        "CASE WHEN s_lon < xx AND s_lat > yy THEN 1"
        " WHEN s_lon > xx AND s_lat > yy THEN 2"
        " WHEN s_lon < xx AND s_lat < yy THEN 3"
        " WHEN s_lon > xx AND s_lat < yy THEN 4 END"
    )
    top = pairs.selectExpr(
        "tgt_id", "xx", "yy", f"{q_sql} AS q", f"{key_sql} AS k_",
        "s_lon", "s_lat", "value",
    ).selectExpr(
        "*",
        "row_number() OVER (PARTITION BY tgt_id ORDER BY k_ ASC)"
        " AS rn",
    ).filter(f"rn <= {int(k)} AND q IS NOT NULL")
    aggs = []
    for i in (1, 2, 3, 4):
        kq = f"CASE WHEN q = {i} THEN k_ END"
        aggs.append(F.expr(f"min({kq})").alias(f"b{i}"))
        for nm, src_c in (("x", "s_lon"), ("y", "s_lat"),
                          ("v", "value")):
            aggs.append(
                F.expr(
                    f"min_by(CASE WHEN q = {i} THEN {src_c} END, {kq})"
                ).alias(f"{nm}{i}")
            )
    g = top.groupBy("tgt_id", "xx", "yy").agg(*aggs).filter(
        "b1 IS NOT NULL AND b2 IS NOT NULL "
        "AND b3 IS NOT NULL AND b4 IS NOT NULL"
    )
    wide = g.selectExpr(
        "tgt_id", "xx", "yy",
        *[
            e
            for i in (1, 2, 3, 4)
            for e in (
                f"x{i}", f"y{i}", f"v{i}",
                f"b{i} % {pack}L AS id{i}",
            )
        ],
    )
    # The (t, s) chain is materialized behind Generate barriers
    # (_ts_chain_staged). Why: Catalyst's predicate pushdown
    # substitutes deterministic project aliases into pushed
    # filters with no cost guard — profiled here (r17-opt), the
    # IS NOT NULL filters were merged into a join condition, where
    # every x1..v4 reference re-expanded and the chain ran twice more
    # per row (~38 ms/row, ~95% of the query). An earlier fix gated
    # the picks behind `CASE WHEN rand() < 2.0` — Spark 4.1's
    # optimizer folds that tautology away, so the gate was inert. A
    # Generate is a hard barrier: filters referencing generator output
    # cannot be pushed below the Generate, so the chain evaluates
    # exactly ONCE per row and the filters run on the materialized
    # struct.
    solved = _ts_chain_staged(wide).filter(
        "r.t IS NOT NULL AND r.s IS NOT NULL"
    )
    return solved.selectExpr(
        "tgt_id",
        "CAST(id3 AS LONG) AS c00",
        "CAST(id4 AS LONG) AS c01",
        "CAST(id1 AS LONG) AS c10",
        "CAST(id2 AS LONG) AS c11",
        "r.t AS t",
        "r.s AS s",
        "r.v AS bilinear_value",
    )


def bilinear_lut(
    src: DataFrame,
    tgt: DataFrame,
    radius_m: float,
    k: int = 16,
    cache=None,
    src_hash: str | None = None,
    tgt_hash: str | None = None,
) -> DataFrame:
    """Precompute (or load) the bilinear neighbour LUT
    (tgt_id, c00, c01, c10, c11, t, s) — the second LutCache channel
    (VERDICT r4 item 6; reference analog: bilinear/xarr.py:198-219
    zarr save/load of valid_input_index/index_array/distance_array).

    The 32-NN join + quadrant pick + quadratic solve run ONCE; every
    later channel goes through :func:`bilinear_apply`, whose plan is a
    LUT scan + one value join + a weighted sum — no kNN join, no
    applyInPandas. With a ``cache`` the LUT round-trips through the
    bucketed-by-tgt_id external table, so the apply-side agg is also
    shuffle-free. The cache key is built from ``src_hash`` and
    ``tgt_hash``, so both are required with a ``cache``: two
    geometries must never share a LUT by default.
    """

    def compute():
        return bilinear_irregular(src, tgt, radius_m, k=k).select(
            "tgt_id", "c00", "c01", "c10", "c11", "t", "s"
        )

    if cache is None:
        return compute()
    if not (src_hash and tgt_hash):
        raise ValueError(
            "bilinear_lut: a cache needs both src_hash and tgt_hash "
            "(the LUT key); without them different geometries would "
            "share one LUT"
        )
    return cache.get_or_compute(
        src.sparkSession,
        src_hash,
        tgt_hash,
        radius_m,
        ("bilinear", k),
        compute,
    )


def bilinear_apply(
    lut: DataFrame,
    src_values: DataFrame,
    value_col: str = "value",
    broadcast_values: bool = True,
) -> DataFrame:
    """Gather a channel through a precomputed bilinear LUT.

    ``src_values``: (src_id, <value_col>). The four corner ids unpivot
    to (tgt_id, corner, src_id) rows, join the channel ONCE on src_id
    (``broadcast_values=False`` for channels too large to broadcast —
    the join then shuffles on src_id), and fold back with
    the reference's corner weights (_base.py:634-642):
    p1=c10 UL: (1−s)(1−t);  p2=c11 UR: s(1−t);
    p3=c00 LL: (1−s)t;      p4=c01 LR: s·t.
    A target emits a row only when all 4 corner values are present
    (count == 4), matching the kernel's all-corners requirement.
    """
    melted = lut.select(
        "tgt_id",
        "t",
        "s",
        F.expr(
            "stack(4, 'p1', c10, 'p2', c11, 'p3', c00, 'p4', c01) "
            "AS (corner, src_id)"
        ),
    )
    w = (
        F.when(F.col("corner") == "p1",
               (1.0 - F.col("s")) * (1.0 - F.col("t")))
        .when(F.col("corner") == "p2", F.col("s") * (1.0 - F.col("t")))
        .when(F.col("corner") == "p3", (1.0 - F.col("s")) * F.col("t"))
        .otherwise(F.col("s") * F.col("t"))
    )
    vals = src_values.select("src_id", value_col)
    if broadcast_values:
        vals = F.broadcast(vals)
    joined = melted.join(vals, "src_id").withColumn("w", w)
    return (
        joined.groupBy("tgt_id")
        .agg(
            F.sum(F.col("w") * F.col(value_col)).alias("bilinear_value"),
            F.count(F.lit(1)).alias("n_corners"),
            F.first("t").alias("t"),
            F.first("s").alias("s"),
        )
        .filter(F.col("n_corners") == 4)
        .drop("n_corners")
    )
