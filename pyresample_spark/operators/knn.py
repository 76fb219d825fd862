"""k-nearest-neighbor radius join — the heart of every kd-tree resampler.

Reference parity: pyresample/kd_tree.py —
- build/probe: _create_resample_kdtree :464-489, _query_resample_kdtree
  :492-550 (k neighbors within radius_of_influence)
- gather with fill: get_sample_from_neighbour_info :566-652, :705-711
- gauss/custom weighted combine + uncertainty: _resample_with_weights
  :741-818, _calculate_uncertainty :821-859

Spark-first replacement (SURVEY.md §2.4): the kd-tree disappears. Both
sides are assigned **3-D geocentric cells** of side = the chord length
of the search radius; candidates are found by equi-joining the probe
side (exploded over its 27 neighboring cells) against the build side,
then filtering on exact chord distance and ranking with row_number.

Why 3-D cells instead of lon/lat cells: the chord bound is exact on the
sphere — no pole or antimeridian special-casing (the reference needs
explicit handling, _ll2cr.pyx:151-168, data_reduce.py:282-305), and two
points within great-circle radius r are always within chord
c = 2·R·sin(r/2R), hence always within one 3-D cell step of each other.

Scale: the only shuffle is the equi-join on the cell key. The 27×
explode is applied to the *probe* side before the join (worst case 27×
row amplification of ids+coords only — a few dozen bytes/row); the
build side shuffles once at 1× . Skewed cells (dense swath regions) are
split by AQE skew-join; per-cell salting can be layered on the cell key
if a single cell exceeds task memory. A small build side (see
BROADCAST_SRC_BYTES) is broadcast instead, so neither side shuffles.

One approximate tier, ``neighbor_scheme="shift2"``, swaps the 27-cell
explode for an own-cell join under two half-shifted coarser grids
(see _radius_pairs). It changes only which pairs the cell join
emits, each still once, so every consumer below has a single top-k
selection for both schemes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pyresample_spark.functions.geo import R_EARTH, lonlat2xyz
from pyresample_spark.plans.inputs import file_identity

# Broadcast the BUILD side of the cell join when its parquet footprint
# is small (guide §3.1: replace the shuffle of both sides with a
# broadcast of the side that fits). Size is estimated from the scan's
# input files — zero Spark jobs, deterministic, and conservative: the
# in-memory hash relation of a (id, 3 doubles, cells, extras) row set
# is ≤ ~10× the compressed parquet bytes, so 32 MiB of parquet stays
# far under driver/executor comfort and the 8 GB broadcast cap. At
# production scale (a multi-TB source) the estimate exceeds the bound
# and the plan falls back to the shuffle join unchanged — the switch
# is data-adaptive, not tuned to local mode.
BROADCAST_SRC_BYTES = 32 << 20

# Cell side of the approximate "shift2" grids, in units of the
# effective radius. The per-axis guarantee (a pair within the radius
# cannot straddle a wall of BOTH half-cell-shifted grids) needs wall
# spacing >= the accepted distance, i.e. a factor of at least 2.
SHIFT2_CELL_FACTOR = 2.0


def broadcast_bound(spark) -> int:
    """Effective parquet-bytes bound for broadcasting the cell-join
    build side (ADVICE r17): BROADCAST_SRC_BYTES,
    additionally capped by the session's own
    ``spark.sql.autoBroadcastJoinThreshold`` so an explicit broadcast
    never ignores the cluster operator's sizing/disable decision —
    the ~10× in-memory inflation of parquet bytes is held to ≤ 32×
    the threshold (default 10 MiB threshold → 320 MiB in-memory →
    exactly the 32 MiB parquet default, so default behavior is
    unchanged), and a threshold of -1 (broadcast disabled) disables
    this gate too."""
    try:
        raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        u = raw.strip().lower()
        mult = 1
        for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                       ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                       ("b", 1)):
            if u.endswith(suf):
                u, mult = u[: -len(suf)], m
                break
        thr = int(float(u)) * mult
    except Exception:
        thr = 10 << 20
    if thr <= 0:
        return 0
    return min(BROADCAST_SRC_BYTES, (thr * 16) // 5)


def _scan_bytes_hint(df: DataFrame) -> int | None:
    """Total on-disk bytes of the DataFrame's input files, or None when
    the inputs are not file scans (e.g. range-generated grids)."""
    ident = file_identity(df)
    return None if ident is None else sum(size for _, size, _ in ident)


def chord_length(radius_m: float, r_earth: float = R_EARTH) -> float:
    """Great-circle radius → chord length: 2·R·sin(r/2R)."""
    return 2.0 * r_earth * math.sin(radius_m / (2.0 * r_earth))


def cell_side(c: float) -> float:
    """Cell side that covers EVERY pair the mm-quantized distance
    filter accepts (ADVICE r6).

    The accepted set is ``floor(d·1000 + 0.5) <= round(c·1000)``, i.e.
    ``d < c_eff = (round(c·1000) + 0.5) / 1000`` — up to ~1 mm beyond
    ``c``. Cells of side exactly ``c`` do not cover that rounding band:
    when the probe sits within that slack of a cell wall, a source in
    (c, c_eff) just past the next wall is missed by c27's ±1-cell
    explode. Sizing cells by ``c_eff`` restores the coverage invariant
    *including* the quantization slack, so the exact join's pair set
    is complete without changing the accepted-distance semantics (the
    filter threshold is unchanged)."""
    return (round(c * 1000.0) + 0.5) / 1000.0


def _xyz_sql(lon: str, lat: str) -> tuple:
    """SQL-text twin of lonlat2xyz(..., radius=R_EARTH) — same ops in
    the same order (left-associative products, D-suffixed double
    literal), so the expressions are plan-identical to the Column
    form. Builders use the text form to cut DataFrame-transformation
    count: every transformation call eagerly re-analyzes the whole
    accumulated plan, so long withColumn chains made query BUILD time
    (driver-side, inside the bench's timed region) rival execution —
    profiled r18: 7.0 s of the 19.3 s headline total was builder time,
    ~0.6 s per kNN-family query."""
    return (
        f"cos(radians({lat})) * cos(radians({lon})) * {R_EARTH!r}D",
        f"cos(radians({lat})) * sin(radians({lon})) * {R_EARTH!r}D",
        f"sin(radians({lat})) * {R_EARTH!r}D",
    )


def with_geocentric(df: DataFrame, lon_col="lon", lat_col="lat") -> DataFrame:
    # keep-list instead of "*": withColumn REPLACED a pre-existing
    # gx/gy/gz (a frame that already went through with_geocentric); a
    # bare "*" would duplicate the names
    gx, gy, gz = _xyz_sql(lon_col, lat_col)
    keep = [c for c in df.columns if c not in ("gx", "gy", "gz")]
    return df.selectExpr(
        *keep, f"{gx} AS gx", f"{gy} AS gy", f"{gz} AS gz"
    )


def with_cells(df: DataFrame, cell_m: float) -> DataFrame:
    keep = [c for c in df.columns if c not in ("cx3", "cy3", "cz3")]
    return df.selectExpr(
        *keep,
        f"FLOOR(gx / {cell_m!r}D) AS cx3",
        f"FLOOR(gy / {cell_m!r}D) AS cy3",
        f"FLOOR(gz / {cell_m!r}D) AS cz3",
    )


def chord_dist_m(a_prefix: str, b_prefix: str):
    """Exact chord distance between two geocentric points (meters)."""
    dx = F.col(f"{a_prefix}gx") - F.col(f"{b_prefix}gx")
    dy = F.col(f"{a_prefix}gy") - F.col(f"{b_prefix}gy")
    dz = F.col(f"{a_prefix}gz") - F.col(f"{b_prefix}gz")
    return F.sqrt(dx * dx + dy * dy + dz * dz)


def _radius_pairs(
    src: DataFrame,
    tgt: DataFrame,
    c: float,
    src_id: str = "src_id",
    tgt_id: str = "tgt_id",
    src_lon: str = "lon",
    src_lat: str = "lat",
    tgt_lon: str = "lon",
    tgt_lat: str = "lat",
    salt_factor: int | None = None,
    extra_src_cols: tuple = (),
    extra_tgt_cols: tuple = (),
    neighbor_scheme: str = "c27",
) -> DataFrame:
    """(tgt_id, src_id, dist_mm[, extra…]) candidate pairs within chord
    ``c`` — the shared cell-join core of knn_join and the fused
    aggregate variants. ``extra_src_cols`` ride the build side (e.g.
    the value column for the fused gaussian fold); ``extra_tgt_cols``
    ride the probe side THROUGH the explode (bytes, not rows — use
    for a few scalars like the target's own lon/lat, cf. the fused
    bilinear corner pick).

    ``neighbor_scheme`` picks the cell/explode geometry:

    - ``"c27"`` (default, EXACT): cells of side c, probe explodes over
      its 27 neighbors. Candidate volume 27c³ per probe; probe shuffle
      27×.
    - ``"shift2"``: APPROXIMATE — two grids of cell side
      ``SHIFT2_CELL_FACTOR·c``, the second shifted by half a cell on
      every axis; BOTH sides key each row under both grids (2×
      amplification each) and the join is own-cell-only within a grid.
      Per axis a pair closer than the wall spacing cannot straddle a
      wall of *both* grids, so the only misses are mixed-axis patterns
      (straddles an A-wall in x and a B-wall in y) — measured recall@1
      0.95+ at f=2 (``q_knn_approx_recall``) for 2×/2× shuffle vs the
      exact 27×/1×. This is the cell-join analog of the reference
      kd-tree ``epsilon`` knob (kd_tree.py:86-88,545-548): a bounded,
      *measured* accuracy loss traded for shuffle. Deterministic (same
      grids → same pairs → same mins), so the DuckDB oracle reproduces
      it bit-for-bit.

      Each pair is emitted ONCE: grid 0 owns every pair whose two ends
      share a grid-0 cell, and a grid-1 row survives the join only when
      its ends sit in different grid-0 cells (the grid-0 keys are
      recomputed after the join with the same IEEE operation order as
      the keying, so the test is exact). A pair co-located under grid
      0 thus survives once, from grid 0; one co-located only under
      grid 1 survives once, from grid 1. The pair set is the union of
      the two grids' own-cell joins, with no repeats and no extra
      shuffle, so every consumer runs the exact scheme's top-k.
    """
    if neighbor_scheme not in ("c27", "shift2"):
        raise ValueError(f"unknown neighbor_scheme {neighbor_scheme!r}")
    # the extras are spliced into selectExpr text by name: a Column
    # would render as "Column<'x'>" there
    for col in (*extra_src_cols, *extra_tgt_cols):
        if not isinstance(col, str):
            raise TypeError(
                "extra_src_cols/extra_tgt_cols take column names (str), "
                f"got {type(col).__name__}"
            )
    # cells sized by c_eff (= c + the mm-quantization slack), NOT c:
    # see cell_side() — the exact filter admits d up to c_eff, and the
    # explode geometry must cover everything the filter accepts.
    eff = cell_side(c)
    cell = SHIFT2_CELL_FACTOR * eff if neighbor_scheme == "shift2" else eff

    def _shift2_cells(df):
        # two half-cell-shifted grids; IEEE op order (g/cell then
        # + grid·0.5 then floor) mirrored verbatim in the SQL oracles.
        # Two selectExpr (the explode must bind `grid` first), not
        # four withColumn — see _xyz_sql on builder-time analysis cost.
        keep = [
            c for c in df.columns
            if c not in ("grid", "cx3", "cy3", "cz3")
        ]
        return df.selectExpr(
            *keep, "explode(array(0, 1)) AS grid"
        ).selectExpr(
            "*",
            f"FLOOR(gx / {cell!r}D + grid * 0.5D) AS cx3",
            f"FLOOR(gy / {cell!r}D + grid * 0.5D) AS cy3",
            f"FLOOR(gz / {cell!r}D + grid * 0.5D) AS cz3",
        )

    sg = with_geocentric(src, src_lon, src_lat)
    if neighbor_scheme == "shift2":
        sk = _shift2_cells(sg)
        cell_keys = ["grid", "cx3", "cy3", "cz3"]
    else:
        sk = with_cells(sg, cell)
        cell_keys = ["cx3", "cy3", "cz3"]
    s = sk.select(
        F.col(src_id).alias("src_id"),
        F.col("gx").alias("s_gx"),
        F.col("gy").alias("s_gy"),
        F.col("gz").alias("s_gz"),
        *cell_keys,
        *extra_src_cols,
    )
    tg = with_geocentric(tgt, tgt_lon, tgt_lat)
    base_cols = [
        F.col(tgt_id).alias("tgt_id"),
        F.col("gx").alias("t_gx"),
        F.col("gy").alias("t_gy"),
        F.col("gz").alias("t_gz"),
        *cell_keys,
        *extra_tgt_cols,
    ]
    if neighbor_scheme == "shift2":
        t = _shift2_cells(tg).select(*base_cols)
    else:
        # literal 27-struct array, NOT nested transform() lambdas: the
        # higher-order-function form is CodegenFallback — Spark
        # evaluates the whole lambda tree interpreted PER PROBE ROW
        # (profiled r17-opt: the explode stage alone was 9.8 of
        # q_knn_join's 12.3 cpu-s). A literal array constant-folds
        # once at plan time and the Generate stays codegen'd.
        cells27 = ", ".join(
            f"named_struct('dx', {dx}L, 'dy', {dy}L, 'dz', {dz}L)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            for dz in (-1, 0, 1)
        )
        offsets = F.expr(f"explode(array({cells27}))")
        keep = ["tgt_id", "t_gx", "t_gy", "t_gz", *extra_tgt_cols]
        # one selectExpr instead of 3 withColumn + drop: every
        # transformation re-analyzes the whole plan (see _xyz_sql)
        t = with_cells(tg, cell).select(
            *base_cols, offsets.alias("o")
        ).selectExpr(
            *keep,
            "cx3 + o.dx AS cx3",
            "cy3 + o.dy AS cy3",
            "cz3 + o.dz AS cz3",
        )
        # Box-distance prune (VERDICT r15 item 4): drop exploded
        # neighbor cells whose axis-aligned distance from the probe to
        # the WHOLE cell already exceeds the accepted radius — those
        # cells cannot contain any pair the exact mm filter keeps
        # (accepted d < c_eff ≤ box distance of a pruned cell), so the
        # pair set after the filter is bit-identical while the probe
        # exchange shuffles ~20-25% fewer rows for c27 (corner cells
        # survive only near their corner: p≈π/6, edges p≈π/4) and the
        # join evaluates correspondingly fewer candidate distances.
        # A 1 µm slack on the threshold dwarfs the few-ulp error of
        # recomputing the cell walls (gx ~1e7 m ⇒ ~1e-9 m ulps), so
        # float noise can never prune an accepted pair. Pure column
        # predicate below the join — Catalyst pushes it under the
        # shuffle; no new exchange.
        def _box_gap(g: str, cidx: str) -> str:
            lo = f"{cidx} * {cell!r}D"
            return f"greatest({lo} - {g}, {g} - {lo} - {cell!r}D, 0.0D)"

        bx = _box_gap("t_gx", "cx3")
        by = _box_gap("t_gy", "cy3")
        bz = _box_gap("t_gz", "cz3")
        t = t.filter(
            f"{bx} * {bx} + {by} * {by} + {bz} * {bz}"
            f" <= {((eff + 1e-6) ** 2)!r}D"
        )
    join_keys = list(cell_keys)
    if salt_factor and salt_factor > 1:
        s = s.withColumn("salt", F.pmod(F.col("src_id"), F.lit(salt_factor)))
        t = t.withColumn(
            "salt", F.explode(F.expr(f"sequence(0, {salt_factor - 1})"))
        )
        join_keys = join_keys + ["salt"]
    # Join strategy (guide §3.1, chosen deliberately):
    # - When the BUILD side's scan footprint is provably small
    #   (≤ BROADCAST_SRC_BYTES of parquet, no salting requested),
    #   broadcast it: NEITHER side shuffles, and because the probe
    #   explode preserves the probe side's partitioning, every
    #   candidate pair of a given target is produced in the target's
    #   own task — the downstream groupBy(tgt_id) partial aggregation
    #   collapses to ONE row per matched target before its exchange
    #   (measured at sf0.1: 439,766 → ~4.6k shuffle records for
    #   q_knn_join, identical pair sets).
    # - Otherwise shuffle_hash: static stats undervalue the exploded
    #   probe side (range-generated grids look tiny pre-explode) and
    #   would broadcast the 27×-amplified side. A hash shuffle on the
    #   cell key is the correct 100 TB plan — no sort of the pair
    #   input — and AQE still converts to broadcast at runtime when a
    #   side is truly small.
    salted = bool(salt_factor and salt_factor > 1)
    nbytes = None if salted else _scan_bytes_hint(src)
    bound = broadcast_bound(src.sparkSession)
    if nbytes is not None and bound and nbytes <= bound:
        pairs = t.join(F.broadcast(s), join_keys, "inner")
    else:
        pairs = t.hint("shuffle_hash").join(s, join_keys, "inner")
    if neighbor_scheme == "shift2":
        # grid-0 ownership (see the docstring): the keys of
        # _shift2_cells with grid fixed at 0 (grid * 0.5D = 0.0D)
        pairs = pairs.filter("grid = 0 OR " + " OR ".join(
            f"FLOOR(t_{g} / {cell!r}D + 0.0D)"
            f" <> FLOOR(s_{g} / {cell!r}D + 0.0D)"
            for g in ("gx", "gy", "gz")
        ))
    # floor(x + 0.5), not round(x, 0): identical for non-negative
    # distances, but floor is pure arithmetic while Spark's round on
    # doubles allocates a BigDecimal PER ROW — on the multi-million-row
    # candidate table that was ~30% of the whole join's runtime. The
    # DuckDB oracles use the same FLOOR(x + 0.5) text, so both engines
    # quantize bit-identically (+, *, floor are exact IEEE ops).
    dist_sql = (
        "FLOOR(SQRT((t_gx - s_gx) * (t_gx - s_gx)"
        " + (t_gy - s_gy) * (t_gy - s_gy)"
        " + (t_gz - s_gz) * (t_gz - s_gz)) * 1000.0D + 0.5D)"
    )
    # Project to (tgt, src, dist) immediately: the downstream top-k
    # exchange (window sort or min-agg) should shuffle 24 bytes/row,
    # not the six geocentric doubles used only for the distance.
    # One selectExpr + filter instead of withColumn/filter/select —
    # the analyzed plan here is the query's biggest (see _xyz_sql).
    return pairs.selectExpr(
        "tgt_id", "src_id", f"{dist_sql} AS dist_mm",
        *extra_src_cols, *extra_tgt_cols,
    ).filter(f"dist_mm <= {round(c * 1000.0)}L")


def knn_join(
    src: DataFrame,
    tgt: DataFrame,
    radius_m: float,
    k: int = 1,
    src_id: str = "src_id",
    tgt_id: str = "tgt_id",
    src_lon: str = "lon",
    src_lat: str = "lat",
    tgt_lon: str = "lon",
    tgt_lat: str = "lat",
    salt_factor: int | None = None,
    packed: bool = True,
    neighbor_scheme: str = "c27",
) -> DataFrame:
    """Cell-bucketed kNN radius join.

    Returns (tgt_id, src_id, dist_m, nn_rank) with nn_rank ∈ [1, k],
    only targets with ≥1 neighbor within ``radius_m``.

    ``dist_m`` is the chord distance rounded to mm; ranking orders by
    (dist_mm, src_id) so results are deterministic and reproducible
    across engines (a last-ulp trig difference cannot flip a rank).

    ``salt_factor`` splits each build-side cell across N sub-keys
    (src_id mod N) while the probe side joins all N — identical pair
    set, but a pathologically hot cell (dense swath region) spreads
    over N tasks. AQE skew-join usually makes this unnecessary; the
    explicit salt is for single cells exceeding task memory.

    The default scheme is EXACT — the cell join has no tree to prune,
    so unlike the reference kd-tree there is no accuracy/speed dial
    hidden in the default path. The reference's ``epsilon`` semantics
    (kd_tree.py:86-88,545-548) are offered as one explicit tier
    instead: ``neighbor_scheme="shift2"`` (own-cell probe under two
    half-cell-shifted coarser grids — 2×/2× shuffle vs the exact
    27×/1×, recall measured by ``q_knn_approx_recall``). It emits
    each candidate pair once, so ``k=None``, ``packed`` and the
    window fallback behave exactly as under the default scheme.

    ``packed=True`` (default) ranks candidates via a packed-bigint
    HashAggregate (no per-target sort). The packing requires
    ``0 <= src_id < pack`` (pack ≈ 2^62 / max_dist_mm); this is now
    VERIFIED per group inside the same aggregate — out-of-range ids
    (e.g. raw ``monotonically_increasing_id`` = pid·2^33 + n) raise a
    clear error instead of silently corrupting results. Pass
    ``packed=False`` to force the sort-based min(struct)/window path,
    which is correct for arbitrary 64-bit ids, or remap ids with
    :func:`pyresample_spark.operators.ids.with_compact_id`.
    """
    c = chord_length(radius_m)
    pairs = _radius_pairs(
        src, tgt, c, src_id, tgt_id, src_lon, src_lat, tgt_lon, tgt_lat,
        salt_factor, neighbor_scheme=neighbor_scheme,
    )
    if k is None:
        # radius-only join (EWA footprint path) — no top-k, so no
        # per-target sort at all: stays a pure shuffle-join + filter.
        return pairs.select(
            "tgt_id", "src_id", (F.col("dist_mm") / 1000.0).alias("dist_m")
        )
    _PACK_ERR = (
        "knn_join: src_id outside the packable range [0, pack) — pass "
        "packed=False or remap ids with operators.ids.with_compact_id"
    )
    if k == 1:
        # Nearest neighbor as a single min() aggregation rather than a
        # row_number window: no per-target sort, and the partial agg
        # runs map-side so the shuffle moves one candidate per
        # (task, target) instead of the whole pair table.
        #
        # min(struct(...)) would force SortAggregate (struct buffers
        # aren't hash-aggregable), so (dist_mm, src_id) is packed into
        # one BIGINT — min(bigint) is a HashAggregate. PACK is sized so
        # dist_mm * PACK never overflows. The id-range precondition
        # (0 <= src_id < pack) is verified per group by min/max ids
        # carried through the SAME HashAggregate (two extra bigint
        # buffer slots — no extra shuffle); violation raises.
        max_dist_mm = round(c * 1000.0)
        pack = (1 << 62) // max(max_dist_mm + 1, 1)
        if packed and pack >= (1 << 33):
            key = F.col("dist_mm") * pack + F.col("src_id")
            best = pairs.groupBy("tgt_id").agg(
                F.min(key).alias("bk"),
                F.min("src_id").alias("_id_lo"),
                F.max("src_id").alias("_id_hi"),
            )
            ok = (F.col("_id_lo") >= 0) & (F.col("_id_hi") < F.lit(pack))
            guard = F.assert_true(ok, F.lit(_PACK_ERR))
            return best.select(
                "tgt_id",
                F.when(guard.isNull(), F.col("bk") % pack).alias("src_id"),
                (F.expr(f"bk div {pack}") / 1000.0).alias("dist_m"),
                F.lit(1).alias("nn_rank"),
            )
        best = pairs.groupBy("tgt_id").agg(
            F.min(F.struct("dist_mm", "src_id")).alias("b")
        )
        return best.select(
            "tgt_id",
            F.col("b.src_id").alias("src_id"),
            (F.col("b.dist_mm") / 1000.0).alias("dist_m"),
            F.lit(1).alias("nn_rank"),
        )
    # k>1 top-k: same packed-bigint trick, but through
    # array_sort(collect_list(...))[1:k] — a HashAggregate (collect_list
    # buffers are hash-aggregable) instead of a row_number window. The
    # window plan shuffle-SORTS the entire pair table by (tgt, dist);
    # the hash-agg plan only shuffles the (tgt, packed) pairs and sorts
    # each target's candidate list in isolation (candidates per target
    # are bounded by the 27-cell neighborhood, so the per-group buffer
    # is small). Measured ~1.5-2× faster at sf0.1 and strictly less
    # exchange work at scale.
    max_dist_mm = round(c * 1000.0)
    pack = (1 << 62) // max(max_dist_mm + 1, 1)
    if packed and pack >= (1 << 33):
        key = F.col("dist_mm") * pack + F.col("src_id")
        g = pairs.groupBy("tgt_id").agg(
            F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("ks"),
            F.min("src_id").alias("_id_lo"),
            F.max("src_id").alias("_id_hi"),
        )
        ok = (F.col("_id_lo") >= 0) & (F.col("_id_hi") < F.lit(pack))
        guard = F.assert_true(ok, F.lit(_PACK_ERR))
        return g.select(
            "tgt_id", F.posexplode("ks").alias("rank0", "bk"), guard.alias("_g")
        ).select(
            "tgt_id",
            F.when(F.col("_g").isNull(), F.col("bk") % pack).alias("src_id"),
            (F.expr(f"bk div {pack}") / 1000.0).alias("dist_m"),
            (F.col("rank0") + 1).cast("int").alias("nn_rank"),
        )
    w = W.partitionBy("tgt_id").orderBy(
        F.col("dist_mm").asc(), F.col("src_id").asc()
    )
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select(
            "tgt_id",
            "src_id",
            (F.col("dist_mm") / 1000.0).alias("dist_m"),
            "nn_rank",
        )
    )


def gauss_weight(dist_col, sigma: float):
    """Gaussian radial weight exp(-d²/σ²) (kd_tree.py:741-818)."""
    return F.exp(-(dist_col * dist_col) / (sigma * sigma))


def knn_gauss_fold(
    src: DataFrame,
    tgt: DataFrame,
    radius_m: float,
    k: int,
    sigma: float,
    value_col: str = "value",
    src_id: str = "src_id",
    tgt_id: str = "tgt_id",
    neighbor_scheme: str = "c27",
) -> DataFrame:
    """Fused top-k + gaussian-weighted statistics (VERDICT r3 item
    5): the value column rides the candidate pairs, a row_number
    window cuts each target's pairs to its k nearest in (dist_mm,
    src_id) order, and one aggregate sums the weights over the
    survivors — no value join back onto ranked pair rows. Sums run
    in (dist, id) order; ROUND(6) absorbs the ordering ulps exactly
    as it does cross-engine. Both neighbor schemes take this path:
    the cell join emits each candidate pair once.

    Returns (tgt_id, v1, v2, swv, swv2, n_neighbours) unrounded:
    v1=Σw, v2=Σw², swv=Σwv, swv2=Σwv² over the k nearest within
    ``radius_m``; w = exp(−d²/σ²), d = mm-quantized chord distance.
    """
    c = chord_length(radius_m)
    src_in = src if value_col == "value" else src.withColumn(
        "value", F.col(value_col)
    )
    pairs = _radius_pairs(
        src_in, tgt, c, src_id, tgt_id, extra_src_cols=("value",),
        neighbor_scheme=neighbor_scheme,
    )
    # Top-k (r17-opt) as a codegen'd row_number window + plain SUM
    # aggregates over the ≤k survivors. Under the broadcast topology the
    # pair rows are already clustered by tgt_id, so the window adds no
    # exchange; under the shuffle-hash topology one Exchange
    # hashpartitioning(tgt_id) sits between the cell join and the
    # window, fed by a partial WindowGroupLimit that ships at most k
    # rows per task and target. This replaces collecting every
    # candidate pair into a struct list and interpreted-sorting it
    # (ObjectHashAggregate + CodegenFallback
    # aggregate() folds; measured 1.47M candidates for ~4.6k targets
    # at sf0.1). Summation order is unchanged: the window emits rows
    # sorted by (dist_mm, src_id) — exactly the fold order of the
    # array form — and each target's partial accumulates in one task.
    w1 = W.partitionBy("tgt_id").orderBy(
        F.col("dist_mm").asc(), F.col("src_id").asc()
    )
    top = pairs.withColumn("rn", F.row_number().over(w1)).filter(
        F.col("rn") <= k
    )
    d_m = F.col("dist_mm") / 1000.0
    v = F.col("value")
    top = top.withColumn("w", gauss_weight(d_m, sigma))
    wc = F.col("w")
    return top.groupBy("tgt_id").agg(
        F.sum(wc).alias("v1"),
        F.sum(wc * wc).alias("v2"),
        F.sum(wc * v).alias("swv"),
        F.sum(wc * v * v).alias("swv2"),
        F.count(F.lit(1)).cast("int").alias("n_neighbours"),
    )


# Rows in one 3-D cell that a single shuffle-hash task should own at
# most (VERDICT r4 item 5; re-measured r17, VERDICT r16 item 5).
# Memory was never the binding constraint (500k rows × ~48 B ≈ 24 MB
# build side); WALL is: with every probe hitting one cell, a 1M-row
# hot cell measured 11.1 s unsalted vs 5.4 s at salt 8 (2.06×, and a
# deterministic 4× cut in max-task pairs — tools/scale_probe_knn_skew
# r17 sweep), while realistic polar-orbit pileup (8M-row swath, 24.7×
# cell-density skew, max cell 1,039 rows) stays three orders of
# magnitude below ANY sane threshold — the heuristic correctly never
# fires there, and force-salting such cold cells measurably HURT
# (5.9 → 9.5 s at 500k rows). 500k puts the trigger at the scale
# where the win is measurable and the false-fire cost is nil (salt =
# ceil(mx/bound) is 1 until 2× the bound).
HOT_CELL_ROWS = 500_000


def choose_salt_factor(
    src: DataFrame,
    radius_m: float,
    src_lon: str = "lon",
    src_lat: str = "lat",
    hot_cell_rows: int = HOT_CELL_ROWS,
    max_salt: int = 32,
) -> int | None:
    """Planner heuristic for :func:`knn_join`'s ``salt_factor``: one
    cheap aggregation scan (rows per cell → max) decides whether any
    cell exceeds ``hot_cell_rows``; if so, returns the salt that
    splits the hottest cell back under the bound (capped at
    ``max_salt``), else None (unsalted — AQE alone is enough).

    The scan is O(|src|) map-side-combined and shuffles ≤ one row per
    distinct cell; run it once per (source, radius) and reuse — the
    salt only depends on the source layout, not the probe side.
    """
    import math

    # cell_side for strict consistency with the join's actual cells
    # (immaterial for a density heuristic — the sides differ by ~1e-9
    # relative — but one convention everywhere beats two)
    c = cell_side(chord_length(radius_m))
    keyed = with_cells(with_geocentric(src, src_lon, src_lat), c)
    mx = (
        keyed.groupBy("cx3", "cy3", "cz3")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    if not mx or mx <= hot_cell_rows:
        return None
    return min(max_salt, math.ceil(mx / hot_cell_rows))
