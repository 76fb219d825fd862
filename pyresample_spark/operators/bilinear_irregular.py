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
exact neighbor schemes pick corners with a narrow sort (a packed
(dist_mm, src_id) key, a row_number top-k cut, one min/min_by
aggregate per quadrant); the approximate shift2 scheme keeps a sorted
collect_set slice and a per-quadrant ``filter()`` over it. The
closed-form (t, s) solve — the reference's full irregular →
uprights-parallel → parallelogram fallback chain — runs as staged
codegen'd projects behind Generate barriers (``_ts_chain_staged``).
No Python anywhere in the production plan; the original
reference-shaped Arrow kernel is kept as
:func:`bilinear_irregular_pandas` and row-for-row equality is
pytest-enforced. ``_ts_chain_expr`` is the same chain as one
let-bound expression, used only by tools/probe_bilinear_stages.py.
The DuckDB oracle replays candidates → quadrants →
corners → quadratic → interpolation from the same formula texts.
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

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyresample_spark.functions.exprs import generate_barrier
from pyresample_spark.operators.knn import chord_length, knn_join

OUT_SCHEMA = (
    "tgt_id long, c00 long, c01 long, c10 long, c11 long, "
    "t double, s double, bilinear_value double"
)


def _quad_root(p1, p2, p3, p4, X, Y):
    """Valid root in [0,1] of the bilinear quadratic — _calc_abc
    (bilinear/_base.py:423-443) + _solve_quadratic (:382-413) with the
    reference's x1 → x2 → −c/b fallback chain. Divisions are guarded
    (the reference relies on inf/NaN falling out of [0,1])."""
    (x1, y1), (x2, y2), (x3, y3), (x4, y4) = p1, p2, p3, p4
    x21, x31, x42 = x2 - x1, x3 - x1, x4 - x2
    y21, y31, y42 = y2 - y1, y3 - y1, y4 - y2
    a = x31 * y42 - y31 * x42
    b = (
        Y * (x42 - x31) - X * (y42 - y31)
        + x31 * y2 - y31 * x2 + y42 * x1 - x42 * y1
    )
    c = Y * x21 - X * y21 + x1 * y2 - x2 * y1
    d = b * b - 4.0 * a * c
    if a != 0.0 and d >= 0.0:
        sq = math.sqrt(d)
        for cand in ((-b + sq) / (2.0 * a), (-b - sq) / (2.0 * a)):
            if 0.0 <= cand <= 1.0:
                return cand
    if b != 0.0:
        cand = -c / b
        if 0.0 <= cand <= 1.0:
            return cand
    return None


def _lin_other(f, ya, yb, yc, yd, Y):
    """_solve_another_fractional_distance (bilinear/_base.py:452-470):
    g = (Y − ya − (yb−ya)f) / (yc + (yd−yc)f − ya − (yb−ya)f),
    valid in [0,1]."""
    den = yc + (yd - yc) * f - ya - (yb - ya) * f
    if den == 0.0:
        return None
    g = (Y - ya - (yb - ya) * f) / den
    return g if 0.0 <= g <= 1.0 else None


def _solve_ts_quadratic(corners_xy, X, Y):
    """Closed-form (t, s) with the reference's full fallback chain
    (_get_fractional_distances, bilinear/_base.py:336-521):
    irregular → uprights-parallel → parallelogram. corners_xy rows:
    p1=UL, p2=UR, p3=LL, p4=LR (the reference corner order)."""
    p1, p2, p3, p4 = [tuple(c) for c in corners_xy]
    # 1. irregular quadrilateral: t from the quadratic, s linear from t
    t = _quad_root(p1, p2, p3, p4, X, Y)
    if t is not None:
        s = _lin_other(t, p1[1], p3[1], p2[1], p4[1], Y)
        if s is not None:
            return t, s
    # 2. uprights parallel: s from the quadratic on reordered corners,
    #    t linear from s (axis-aligned grids land here: the irregular
    #    s-denominator degenerates to 0)
    s = _quad_root(p1, p3, p2, p4, X, Y)
    if s is not None:
        t = _lin_other(s, p1[1], p2[1], p3[1], p4[1], Y)
        if t is not None:
            return t, s
    # 3. parallelogram (reference formula verbatim, incl. its
    #    '+ x31·t' term, for parity)
    x21, y21 = p2[0] - p1[0], p2[1] - p1[1]
    x31, y31 = p3[0] - p1[0], p3[1] - p1[1]
    den = x21 * y31 - y21 * x31
    if den == 0.0 or x21 == 0.0:
        return None
    t = (x21 * (Y - p1[1]) - y21 * (X - p1[0])) / den
    if not (0.0 <= t <= 1.0):
        return None
    s = (X - p1[0] + x31 * t) / x21
    if not (0.0 <= s <= 1.0):
        return None
    return t, s


def _per_target(pdf: pd.DataFrame) -> pd.DataFrame:
    tgt_id = pdf["tgt_id"].iloc[0]
    tx, ty = pdf["t_lon"].iloc[0], pdf["t_lat"].iloc[0]
    dlon = pdf["s_lon"].to_numpy() - tx
    dlat = pdf["s_lat"].to_numpy() - ty
    dist = pdf["dist_m"].to_numpy()
    sid = pdf["src_id"].to_numpy()
    # strict-sign quadrants, reference order (x_diff = out − in):
    # p1 UL: in left (dlon<0), in above (dlat>0); p2 UR; p3 LL; p4 LR
    quads = {
        "p1": (dlon < 0) & (dlat > 0),
        "p2": (dlon > 0) & (dlat > 0),
        "p3": (dlon < 0) & (dlat < 0),
        "p4": (dlon > 0) & (dlat < 0),
    }
    idx = {}
    for name, mask in quads.items():
        if not mask.any():
            return pd.DataFrame(columns=pdf.columns[:0])
        cand = np.flatnonzero(mask)
        # nearest valid, ties by src_id — deterministic across engines
        best = cand[np.lexsort((sid[cand], dist[cand]))[0]]
        idx[name] = best
    corners_xy = [
        (pdf["s_lon"].iloc[idx[n]], pdf["s_lat"].iloc[idx[n]])
        for n in ("p1", "p2", "p3", "p4")
    ]
    ts = _solve_ts_quadratic(corners_xy, tx, ty)
    if ts is None:
        return pd.DataFrame(columns=pdf.columns[:0])
    t, s = ts
    v1, v2, v3, v4 = (
        pdf["value"].iloc[idx[n]] for n in ("p1", "p2", "p3", "p4")
    )
    v = (
        v1 * (1.0 - s) * (1.0 - t)
        + v2 * s * (1.0 - t)
        + v3 * (1.0 - s) * t
        + v4 * s * t
    )
    # output columns keep the grid naming: c00=LL(p3), c01=LR(p4),
    # c10=UL(p1), c11=UR(p2)
    return pd.DataFrame(
        {
            "tgt_id": [tgt_id],
            "c00": [sid[idx["p3"]]],
            "c01": [sid[idx["p4"]]],
            "c10": [sid[idx["p1"]]],
            "c11": [sid[idx["p2"]]],
            "t": [t],
            "s": [s],
            "bilinear_value": [v],
        }
    )


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


def quad_root_case(qa: str, qb: str, qc: str, qd: str, div=_plain_div) -> str:
    """Valid-root CASE for the bilinear quadratic — the SQL text twin
    of :func:`_quad_root` (x1 → x2 → −c/b fallback chain). SHARED
    between the Spark fused plan (div=_try_div) and the DuckDB oracle
    (div=_plain_div) so both engines take the same branch at every
    gate; the ``<> 0`` guards in front of each division make the two
    division semantics coincide."""
    r1 = div(f"-({qb}) + sqrt(GREATEST({qd}, 0.0))", f"2.0 * {qa}")
    r2 = div(f"-({qb}) - sqrt(GREATEST({qd}, 0.0))", f"2.0 * {qa}")
    r3 = div(f"-({qc})", qb)
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
    """SQL twin of :func:`_lin_other` (the other fractional distance,
    linear in the first); references the in-scope target ``yy``."""
    den = f"{yc} + ({yd} - {yc}) * {f} - {ya} - ({yb} - {ya}) * {f}"
    g = div(f"yy - {ya} - ({yb} - {ya}) * {f}", den)
    return f"""
      CASE WHEN {f} IS NOT NULL
                AND ({den}) <> 0.0
                AND {g} >= 0.0 AND {g} <= 1.0
           THEN {g}
      END"""


# stage texts for the abc coefficients (shared Spark/DuckDB; operate on
# the wide corner columns x1..y4, v1..v4 and the target xx/yy)
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


def par_ts_case(which: str, div=_plain_div) -> str:
    """Parallelogram (t, s) gate: s = (xx − x1 + (x3 − x1)·t)/(x2 − x1)
    must land in [0, 1]; ``which`` selects the emitted column."""
    sq = div("xx - x1 + (x3 - x1) * t_par0", "x2 - x1")
    out = "t_par0" if which == "t" else sq
    return f"""
      CASE WHEN t_par0 IS NOT NULL
                AND {sq} >= 0.0 AND {sq} <= 1.0
           THEN {out} END"""


FIN_T_SQL = """
      CASE WHEN t_irr IS NOT NULL AND s_irr IS NOT NULL THEN t_irr
           WHEN s_up IS NOT NULL AND t_up IS NOT NULL THEN t_up
           ELSE t_par END"""

FIN_S_SQL = """
      CASE WHEN t_irr IS NOT NULL AND s_irr IS NOT NULL THEN s_irr
           WHEN s_up IS NOT NULL AND t_up IS NOT NULL THEN s_up
           ELSE s_par END"""


# strict-sign quadrants in reference order (p1 UL, p2 UR, p3 LL, p4 LR)
QUAD_CONDS = (
    ("p1", "x.s_lon < xx AND x.s_lat > yy"),
    ("p2", "x.s_lon > xx AND x.s_lat > yy"),
    ("p3", "x.s_lon < xx AND x.s_lat < yy"),
    ("p4", "x.s_lon > xx AND x.s_lat < yy"),
)


# let-binding emulation shared with the PQ expressions; see the
# docstring there for why lambda bindings beat staged Projects here
from pyresample_spark.functions.exprs import let_expr as _let  # noqa: E402


def _ts_chain_expr() -> str:
    """The whole closed-form (t, s, value) chain as ONE let-bound
    column expression over the wide corner columns (x1..y4, v1..v4,
    xx, yy). Formula-for-formula the same arithmetic and gate
    structure as the DuckDB oracle text (quad_root_case /
    lin_other_case / par_* with div=plain) — cell-for-cell equality is
    enforced by the oracle parity suite; divisions are try_divide
    (NULL on zero) where DuckDB's plain ``/`` yields inf/NaN, and the
    identical [0, 1] gates exclude both."""
    dv = _try_div
    root_case = lambda qa, qd, qb, r1, r2, r3: (  # noqa: E731
        f"CASE WHEN {qa} <> 0.0 AND {qd} >= 0.0"
        f" AND {r1} >= 0.0 AND {r1} <= 1.0 THEN {r1}"
        f" WHEN {qa} <> 0.0 AND {qd} >= 0.0"
        f" AND {r2} >= 0.0 AND {r2} <= 1.0 THEN {r2}"
        f" WHEN {qb} <> 0.0 AND {r3} >= 0.0 AND {r3} <= 1.0 THEN {r3}"
        f" END"
    )
    body = _let(
        [("tf", "CASE WHEN d.t_irr IS NOT NULL AND g.s_irr IS NOT NULL"
                " THEN d.t_irr"
                " WHEN d.s_up IS NOT NULL AND g.t_up IS NOT NULL"
                " THEN g.t_up ELSE k.t_par END"),
         ("sf", "CASE WHEN d.t_irr IS NOT NULL AND g.s_irr IS NOT NULL"
                " THEN g.s_irr"
                " WHEN d.s_up IS NOT NULL AND g.t_up IS NOT NULL"
                " THEN d.s_up ELSE k.s_par END")],
        "l",
        "named_struct('t', l.tf, 's', l.sf, 'v',"
        " v1 * (1.0 - l.sf) * (1.0 - l.tf) + v2 * l.sf * (1.0 - l.tf)"
        " + v3 * (1.0 - l.sf) * l.tf + v4 * l.sf * l.tf)",
    )
    body = _let(
        [("t_par", "CASE WHEN i.t_par0 IS NOT NULL"
                   " AND j.sq >= 0.0 AND j.sq <= 1.0 THEN i.t_par0 END"),
         ("s_par", "CASE WHEN i.t_par0 IS NOT NULL"
                   " AND j.sq >= 0.0 AND j.sq <= 1.0 THEN j.sq END")],
        "k", body,
    )
    body = _let(
        [("sq", dv("xx - x1 + (x3 - x1) * i.t_par0", "x2 - x1"))],
        "j", body,
    )
    body = _let(
        [("t_par0",
          "CASE WHEN ((x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1)) <> 0.0"
          " AND (x2 - x1) <> 0.0"
          " AND h.pt0 >= 0.0 AND h.pt0 <= 1.0 THEN h.pt0 END")],
        "i", body,
    )
    body = _let(
        [("pt0", dv("(x2 - x1) * (yy - y1) - (y2 - y1) * (xx - x1)",
                    "(x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1)"))],
        "h", body,
    )
    body = _let(
        [("s_irr", "CASE WHEN d.t_irr IS NOT NULL AND e.den_si <> 0.0"
                   " AND f.g_si >= 0.0 AND f.g_si <= 1.0 THEN f.g_si END"),
         ("t_up", "CASE WHEN d.s_up IS NOT NULL AND e.den_tu <> 0.0"
                  " AND f.g_tu >= 0.0 AND f.g_tu <= 1.0 THEN f.g_tu END")],
        "g", body,
    )
    body = _let(
        [("g_si", dv("yy - y1 - (y3 - y1) * d.t_irr", "e.den_si")),
         ("g_tu", dv("yy - y1 - (y2 - y1) * d.s_up", "e.den_tu"))],
        "f", body,
    )
    # lin(t_irr; ya=y1, yb=y3, yc=y2, yd=y4) / lin(s_up; y1, y2, y3, y4)
    body = _let(
        [("den_si",
          "y2 + (y4 - y2) * d.t_irr - y1 - (y3 - y1) * d.t_irr"),
         ("den_tu",
          "y3 + (y4 - y3) * d.s_up - y1 - (y2 - y1) * d.s_up")],
        "e", body,
    )
    body = _let(
        [("t_irr", root_case("a.qa1", "b.qd1", "a.qb1",
                             "c.r1a", "c.r2a", "c.r3a")),
         ("s_up", root_case("a.qa2", "b.qd2", "a.qb2",
                            "c.r1b", "c.r2b", "c.r3b"))],
        "d", body,
    )
    body = _let(
        [("r1a", dv("-(a.qb1) + sqrt(GREATEST(b.qd1, 0.0))", "2.0 * a.qa1")),
         ("r2a", dv("-(a.qb1) - sqrt(GREATEST(b.qd1, 0.0))", "2.0 * a.qa1")),
         ("r3a", dv("-(a.qc1)", "a.qb1")),
         ("r1b", dv("-(a.qb2) + sqrt(GREATEST(b.qd2, 0.0))", "2.0 * a.qa2")),
         ("r2b", dv("-(a.qb2) - sqrt(GREATEST(b.qd2, 0.0))", "2.0 * a.qa2")),
         ("r3b", dv("-(a.qc2)", "a.qb2"))],
        "c", body,
    )
    body = _let(
        [("qd1", "a.qb1 * a.qb1 - 4.0 * a.qa1 * a.qc1"),
         ("qd2", "a.qb2 * a.qb2 - 4.0 * a.qa2 * a.qc2")],
        "b", body,
    )
    body = _let(list(ABC_SQL), "a", body)
    return body


import re as _re


def _qualify(expr: str, mapping: dict) -> str:
    """Rewrite bare prior-stage output names in a stage text into
    alias-qualified struct-field references (``qd1`` → ``ds.qd1``).
    Token-boundary safe (the stage texts contain no string literals;
    longest-name-first alternation keeps ``t_par`` from matching
    inside ``t_par0``)."""
    if not mapping:
        return expr
    pat = _re.compile(
        r"\b(" + "|".join(sorted(mapping, key=len, reverse=True)) + r")\b"
    )
    return pat.sub(lambda m: mapping[m.group(1)], expr)


def _barrier_stage(df: DataFrame, keep: list, named_exprs: list,
                   alias: str, mapping: dict | None = None) -> DataFrame:
    """One solve stage behind a Generate barrier
    (functions/exprs.py :func:`generate_barrier`): every stage stays a
    plain codegen'd Project, CollapseProject cannot inline one stage's
    aliases into the next, and pushed filters cannot re-run the chain.

    ONE selectExpr per stage: prior-stage fields are consumed through
    ``mapping``-qualified struct references instead of a second
    flatten select (every transformation call eagerly re-analyzes the
    whole accumulated plan)."""
    return generate_barrier(
        df, keep,
        [(n, _qualify(e, mapping or {})) for n, e in named_exprs], alias,
    )


def _ts_chain_staged(wide: DataFrame) -> DataFrame:
    """The closed-form (t, s, value) solve as STAGED codegen'd
    projects over the wide corner columns (x1..y4, v1..v4, xx, yy) —
    formula-for-formula the same arithmetic, gates and try_divide
    semantics as :func:`_ts_chain_expr` (the single let-bound
    expression it replaces), hence bit-identical output; the let form
    is a higher-order ``transform`` lambda tree, which Spark evaluates
    interpreted per row (CodegenFallback), measured at ~0.4 ms/row —
    the staged form runs entirely inside WholeStageCodegen. Emits the
    result struct column ``r`` (t, s, v) behind a final barrier so the
    caller's IS NOT NULL filter checks materialized fields."""
    dv = _try_div
    ids = ["tgt_id", "id1", "id2", "id3", "id4"]
    geo = ["x1", "x2", "x3", "x4", "y1", "y2", "y3", "y4",
           "v1", "v2", "v3", "v4", "xx", "yy"]
    # Per-stage qualifier maps: a stage's texts reference prior-stage
    # outputs by their bare names; _qualify rewrites them into the
    # struct-field form (see _barrier_stage r18 note).
    m_qs = {n: f"qs.{n}" for n, _ in ABC_SQL}
    m_ds = {**m_qs, "qd1": "ds.qd1", "qd2": "ds.qd2"}
    m_rs = {**m_ds, **{n: f"rs.{n}" for n in
                       ("r1a", "r2a", "r3a", "r1b", "r2b", "r3b")}}
    m_fs = {"t_irr": "fs.t_irr", "s_up": "fs.s_up"}
    m_gs = {**m_fs, "s_irr": "gs.s_irr", "t_up": "gs.t_up",
            "t_par0": "gs.t_par0"}
    m_ps = {**m_gs, "t_par": "ps.t_par", "s_par": "ps.s_par"}
    # S1: the six quadratic coefficients (oracle CTE g1)
    s1 = _barrier_stage(wide, ids + geo, list(ABC_SQL), "qs")
    # S2: discriminants (g2)
    s2 = _barrier_stage(
        s1, ids + geo + ["qs"],
        [("qd1", "qb1 * qb1 - 4.0 * qa1 * qc1"),
         ("qd2", "qb2 * qb2 - 4.0 * qa2 * qc2")],
        "ds", m_qs,
    )
    # S3: the six root candidates
    s3 = _barrier_stage(
        s2, ids + geo + ["qs", "ds"],
        [("r1a", dv("-(qb1) + sqrt(GREATEST(qd1, 0.0))", "2.0 * qa1")),
         ("r2a", dv("-(qb1) - sqrt(GREATEST(qd1, 0.0))", "2.0 * qa1")),
         ("r3a", dv("-(qc1)", "qb1")),
         ("r1b", dv("-(qb2) + sqrt(GREATEST(qd2, 0.0))", "2.0 * qa2")),
         ("r2b", dv("-(qb2) - sqrt(GREATEST(qd2, 0.0))", "2.0 * qa2")),
         ("r3b", dv("-(qc2)", "qb2"))],
        "rs", m_ds,
    )

    def _root(qa, qd, qb, r1, r2, r3):
        return (
            f"CASE WHEN {qa} <> 0.0 AND {qd} >= 0.0"
            f" AND {r1} >= 0.0 AND {r1} <= 1.0 THEN {r1}"
            f" WHEN {qa} <> 0.0 AND {qd} >= 0.0"
            f" AND {r2} >= 0.0 AND {r2} <= 1.0 THEN {r2}"
            f" WHEN {qb} <> 0.0 AND {r3} >= 0.0 AND {r3} <= 1.0 THEN {r3}"
            f" END"
        )

    # S4: first fractional distances (g3)
    s4 = _barrier_stage(
        s3, ids + geo,
        [("t_irr", _root("qa1", "qd1", "qb1", "r1a", "r2a", "r3a")),
         ("s_up", _root("qa2", "qd2", "qb2", "r1b", "r2b", "r3b"))],
        "fs", m_rs,
    )
    # S5: the other fractional distances + the parallelogram t0 (g4/g5)
    den_si = "y2 + (y4 - y2) * t_irr - y1 - (y3 - y1) * t_irr"
    den_tu = "y3 + (y4 - y3) * s_up - y1 - (y2 - y1) * s_up"
    g_si = dv("yy - y1 - (y3 - y1) * t_irr", den_si)
    g_tu = dv("yy - y1 - (y2 - y1) * s_up", den_tu)
    par_den = "(x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1)"
    pt0 = dv("(x2 - x1) * (yy - y1) - (y2 - y1) * (xx - x1)", par_den)
    s5 = _barrier_stage(
        s4, ids + geo + ["fs"],
        [("s_irr",
          f"CASE WHEN t_irr IS NOT NULL AND ({den_si}) <> 0.0"
          f" AND {g_si} >= 0.0 AND {g_si} <= 1.0 THEN {g_si} END"),
         ("t_up",
          f"CASE WHEN s_up IS NOT NULL AND ({den_tu}) <> 0.0"
          f" AND {g_tu} >= 0.0 AND {g_tu} <= 1.0 THEN {g_tu} END"),
         ("t_par0",
          f"CASE WHEN ({par_den}) <> 0.0 AND (x2 - x1) <> 0.0"
          f" AND {pt0} >= 0.0 AND {pt0} <= 1.0 THEN {pt0} END")],
        "gs", m_fs,
    )
    # S6: parallelogram (t, s) gate (g6)
    sq = dv("xx - x1 + (x3 - x1) * t_par0", "x2 - x1")
    s6 = _barrier_stage(
        s5,
        ids + ["v1", "v2", "v3", "v4", "fs", "gs"],
        [("t_par",
          f"CASE WHEN t_par0 IS NOT NULL"
          f" AND {sq} >= 0.0 AND {sq} <= 1.0 THEN t_par0 END"),
         ("s_par",
          f"CASE WHEN t_par0 IS NOT NULL"
          f" AND {sq} >= 0.0 AND {sq} <= 1.0 THEN {sq} END")],
        "ps", m_gs,
    )
    # S7: fallback-chain resolution + interpolation (fin), emitted as
    # the final ``r`` struct behind its own barrier
    tf = _qualify(
        "CASE WHEN t_irr IS NOT NULL AND s_irr IS NOT NULL THEN t_irr"
        " WHEN s_up IS NOT NULL AND t_up IS NOT NULL THEN t_up"
        " ELSE t_par END", m_ps,
    )
    sf = _qualify(
        "CASE WHEN t_irr IS NOT NULL AND s_irr IS NOT NULL THEN s_irr"
        " WHEN s_up IS NOT NULL AND t_up IS NOT NULL THEN s_up"
        " ELSE s_par END", m_ps,
    )
    return generate_barrier(s6, ids, [
        ("t", tf), ("s", sf),
        ("v", f"v1 * (1.0 - {sf}) * (1.0 - {tf}) + v2 * {sf} * (1.0 - {tf})"
              f" + v3 * (1.0 - {sf}) * {tf} + v4 * {sf} * {tf}"),
    ], "r")


def bilinear_irregular(
    src: DataFrame,
    tgt: DataFrame,
    radius_m: float,
    k: int = 16,
    neighbor_scheme: str = "c27",
) -> DataFrame:
    """src: (src_id, lon, lat, value); tgt: (tgt_id, lon, lat) →
    (tgt_id, 4 corner ids, t, s, bilinear_value).

    FUSED plan, no Python (the per-target ``applyInPandas`` kernel is
    kept as :func:`bilinear_irregular_pandas`, row-for-row equal in
    the tests; the DuckDB oracle matches in the parity suite):

    1. candidates: the shared cell join, with the source lon/lat/value
       on the build side and the target lon/lat (``xx``/``yy``) on the
       probe explode in both topologies (broadcast source: the target
       is pre-partitioned by tgt_id, so no pair-level exchange
       follows; shuffle: one cell-join exchange);
    2. exact schemes: the strict-sign quadrant is computed per pair,
       the pairs are cut to the top-k by one packed (dist_mm, src_id)
       key, and one min/min_by hash aggregate picks the nearest
       candidate per quadrant and pivots the four corners; the
       target's xx/yy re-attach afterwards by joining the ≤|tgt|-row
       corner table to the target table. shift2: a sorted
       ``collect_set`` slice per target and a per-quadrant ``filter()``
       over it, behind a Generate barrier;
    3. the (t, s) solve and the interpolation run as staged codegen'd
       projects behind Generate barriers (:func:`_ts_chain_staged`).

    ``neighbor_scheme`` passes through to the shared cell join
    (:func:`~pyresample_spark.operators.knn._radius_pairs`):
    ``"shift2"`` is the APPROXIMATE tier (own-cell probe on two
    half-shifted coarse grids — a distant corner candidate can be
    missed when a pair straddles both grids' walls); its duplicate
    candidate pairs collapse via ``collect_set`` before the top-k
    slice, the same dedup idiom as ``knn_join``'s shift2 path, so
    duplicates never consume top-k slots."""
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

    nbytes = _scan_bytes_hint(src)
    bound = broadcast_bound(src.sparkSession)
    small_src = nbytes is not None and bound and nbytes <= bound
    if small_src:
        # Broadcast-src topology (r17-opt): _radius_pairs broadcasts
        # the build side, so the probe side never shuffles. The
        # pre-explode repartition hash-partitions the (1×-sized)
        # target rows by tgt_id so that (a) the downstream per-target
        # window/aggregation needs NO pair-level exchange (the
        # partitioning flows through explode, broadcast join and
        # projections) and (b) the probe stage parallelizes even when
        # the target scan is a single input split. Explicit partition
        # count (defaultParallelism) so AQE cannot coalesce the tiny
        # pre-explode exchange to one task.
        npart = tgt.sparkSession.sparkContext.defaultParallelism
        tgt2 = tgt.select(
            "tgt_id", "lon", "lat",
            F.col("lon").alias("xx"), F.col("lat").alias("yy"),
        ).repartition(npart, F.col("tgt_id"))
    else:
        # Shuffle topology (large source): the probe explode carries
        # xx/yy (16 bytes/row on the 27× probe exchange) so the
        # strict-sign quadrant is computable at pair level — the r18
        # narrow-sort selection needs it BEFORE the top-k cut, and in
        # exchange the pair-level window shuffles rows that are ~40%
        # narrower (the quadrant byte replaces xx/yy/dist/src on the
        # sorted rows) and the old post-rank tcoords hash join (an
        # extra scan + two exchanges on the pair-heavy side) is
        # replaced by one join against the already-aggregated
        # (≤|tgt|-row) corner table.
        tgt2 = tgt.select(
            "tgt_id", "lon", "lat",
            F.col("lon").alias("xx"), F.col("lat").alias("yy"),
        )
    pairs = _radius_pairs(
        src2, tgt2, c,
        extra_src_cols=("s_lon", "s_lat", "value"),
        extra_tgt_cols=("xx", "yy"),
        neighbor_scheme=neighbor_scheme,
    )
    if neighbor_scheme == "shift2":
        # shift2 emits duplicate pairs (one per co-located grid);
        # collect_set collapses them in-aggregate before the top-k
        # slice, so the selection stays the fused-aggregate form (a
        # row_number rank would count duplicates as distinct ranks)
        g = pairs.groupBy("tgt_id", "xx", "yy").agg(
            F.slice(
                F.array_sort(
                    F.collect_set(
                        F.struct(
                            "dist_mm", "src_id", "s_lon", "s_lat", "value"
                        )
                    )
                ),
                1, k,
            ).alias("ks"),
        )
        # picks materialized as GENERATOR OUTPUT — see the barrier
        # rationale below
        corners = generate_barrier(g, ["tgt_id", "xx", "yy"], [
            (name, f"try_element_at(filter(ks, x -> {cond}), 1)")
            for name, cond in QUAD_CONDS
        ], "pk").filter(
            "pk.p1 IS NOT NULL AND pk.p2 IS NOT NULL "
            "AND pk.p3 IS NOT NULL AND pk.p4 IS NOT NULL"
        )
        wide = corners.selectExpr(
            "tgt_id", "xx", "yy",
            *[
                e
                for i in (1, 2, 3, 4)
                for e in (
                    f"pk.p{i}.s_lon AS x{i}", f"pk.p{i}.s_lat AS y{i}",
                    f"pk.p{i}.value AS v{i}", f"pk.p{i}.src_id AS id{i}",
                )
            ],
        )
    else:
        # Exact schemes (r18-opt narrow-sort selection; replaces the
        # r17 two-window + MAX(CASE) pivot): the pair-level top-k sort
        # was the query's dominant cost (stage-isolated at sf0.1:
        # +2.05 of 3.46 cpu-s — tools/probe_bilinear_r18.py), so the
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
        #      (tgt_id, q, k_, s_lon, s_lat, value) — ~40% narrower
        #      than the r17 sort input (xx/yy/dist_mm/src_id dropped)
        #      and a single-long comparator; no exchange in the
        #      broadcast topology (rows are clustered by tgt_id);
        #   4. nearest-per-quadrant + corner pivot fused into ONE
        #      hash aggregate of primitive min()/min_by() — both
        #      DeclarativeAggregates with flat buffers, so the plan
        #      stays a codegen'd HashAggregate (no second window, no
        #      16-expression MAX(CASE) pivot); all-4-quadrants is
        #      enforced by the bᵢ NULL checks (≡ the oracle's HAVING
        #      COUNT(*) = 4);
        #   5. xx/yy re-attach from the 1×-sized target table onto the
        #      ≤|tgt|-row corner table (broadcast when its scan
        #      footprint is provably small, else shuffle_hash — the
        #      corner side is already partitioned by tgt_id).
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
            "tgt_id", f"{q_sql} AS q", f"{key_sql} AS k_",
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
        g = top.groupBy("tgt_id").agg(*aggs).filter(
            "b1 IS NOT NULL AND b2 IS NOT NULL "
            "AND b3 IS NOT NULL AND b4 IS NOT NULL"
        )
        tco = tgt.selectExpr("tgt_id", "lon AS xx", "lat AS yy")
        tbytes = _scan_bytes_hint(tgt)
        if tbytes is not None and bound and tbytes <= bound:
            joined = g.join(F.broadcast(tco), "tgt_id")
        else:
            joined = g.join(tco.hint("shuffle_hash"), "tgt_id")
        wide = joined.selectExpr(
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
    # (_ts_chain_staged / _barrier_stage). Why: Catalyst's predicate
    # pushdown substitutes deterministic project aliases into pushed
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


def bilinear_irregular_pandas(
    src: DataFrame,
    tgt: DataFrame,
    radius_m: float,
    k: int = 16,
) -> DataFrame:
    """The original per-target Arrow kernel (reference-shaped NumPy
    code, bilinear/_base.py one-to-one). Kept as the independent
    cross-check for the fused column plan — same output contract;
    tests assert row-for-row equality."""
    pairs = knn_join(src, tgt, radius_m, k=k)
    enriched = (
        pairs.join(
            src.select(
                F.col("src_id"),
                F.col("lon").alias("s_lon"),
                F.col("lat").alias("s_lat"),
                "value",
            ),
            "src_id",
        )
        .join(
            tgt.select(
                F.col("tgt_id"),
                F.col("lon").alias("t_lon"),
                F.col("lat").alias("t_lat"),
            ),
            "tgt_id",
        )
    )
    return enriched.groupBy("tgt_id").applyInPandas(_per_target, OUT_SCHEMA)


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
    shuffle-free.
    """

    def compute():
        return bilinear_irregular(src, tgt, radius_m, k=k).select(
            "tgt_id", "c00", "c01", "c10", "c11", "t", "s"
        )

    if cache is None:
        return compute()
    return cache.get_or_compute(
        src.sparkSession,
        src_hash or "bilinear_src",
        tgt_hash or "bilinear_tgt",
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
