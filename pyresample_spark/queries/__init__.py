"""Query registry: one entry per implemented operator (SURVEY.md §2).

Each query is a ``QuerySpec`` holding a Spark plan builder
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a DuckDB
oracle SQL string over the pre-registered views (region nation customer
supplier part orders lineitem events documents embeddings). The driver
compares row-count + schema + order-insensitive value-hash at sf0.01.

Hash-stability rules used by every query here:
- Per-row computed doubles are rounded to 6 decimals (FIXTURES.md §4).
- Sums of doubles are made order-insensitive and engine-exact by rounding
  per-row to fixed decimals, casting to BIGINT, and summing integers.
- Ranks over doubles order by (round(key, 9), id) so a last-ulp libm
  difference cannot flip the ordering.
- No raw timestamps in output schemas — cast to epoch BIGINT or strings.
- Aggregates of integers are CAST to BIGINT on the DuckDB side (DuckDB
  sums integers into HUGEINT).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pyresample_spark.plans.inputs import file_identity, plan_memo


def rnd(col, n: int = 6):
    """Round a double for hash-stable output, normalizing -0.0 → +0.0
    (DuckDB keeps the sign of a rounded negative underflow; Spark does
    not — ``+ 0.0`` makes both engines emit +0.0)."""
    from pyspark.sql import functions as F

    return F.round(col, n) + F.lit(0.0)


def rnd_sql(expr: str, n: int = 6) -> str:
    return f"(ROUND({expr}, {n}) + 0.0)"


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple = ()
    doc: str = ""


REGISTRY: dict = {}


def register(name: str, oracle: str | None = None, tags: tuple = ()):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle, tags, doc=fn.__doc__ or "")
        return fn

    return deco


# Scan-spread (r17-opt, guide §2.5 "input skew: one huge unsplittable
# file … repartition immediately after the read" + §6): the test tables
# are single-row-group parquet files, and a parquet row group is the
# atomic split unit — every scan yields ONE task no matter how many
# cores the session has, so per-row compute (shingling, ADC scoring,
# projection math) serializes onto one core. When the file provably
# cannot split to the session's parallelism, round-robin repartition
# right after the read. The decision reads the parquet footer on the
# driver (no Spark job, memoized per file version by plan_memo) and is
# data-adaptive, NOT tuned to local mode: a production-scale input has
# many row groups / files, the gate never fires, and the plan is
# byte-identical to today's. Results are unaffected — the registry-wide
# hash-stability rules above make every aggregate order-insensitive,
# and round-robin repartition is deterministic (sort-before-repartition
# is on by default).
# A task should own at least this many rows before a spread is worth
# its scheduling overhead.
_SPREAD_MIN_ROWS = 64
# Tables whose downstream per-row work is heavy enough to pay for the
# repartition (text shingling/hashing, vector scoring). Measured at
# sf0.1: spreading these cut q_pq_search wall 2.38→1.14 s and
# q_dedup_minhash 1.49→1.10 s, while spreading lineitem REGRESSED
# q_scan_lineitem 0.71→1.54 s (an immediate high-reduction aggregate:
# the round-robin exchange shipped 600k rows that map-side partial
# aggregation would have reduced to 6) — so spread is opt-in by table,
# not blanket.
_SPREAD_TABLES = frozenset({"documents", "embeddings"})


def _spread_parts(path: str, cores: int) -> int:
    """Target partition count for an unsplittable small scan, or 0 to
    leave the scan alone (multi-row-group file, directory source,
    unreadable footer, or too few rows to be worth tasks)."""

    def footer():
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            return md.num_rows, md.num_row_groups
        except Exception:
            return 0, 1 << 30  # not a single parquet file: never spread

    ident = file_identity(path)
    rows, row_groups = plan_memo(ident and ("scan-spread", ident), footer)
    target = min(cores, rows // _SPREAD_MIN_ROWS)
    if target < 2 or row_groups >= target:
        return 0
    return target


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    """``spread=None`` (default) spreads only the payload-heavy tables
    in ``_SPREAD_TABLES``; True/False force it per call site."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if spread is None:
        spread = name in _SPREAD_TABLES
    if spread:
        n = _spread_parts(path, spark.sparkContext.defaultParallelism)
        if n:
            df = df.repartition(n)
    return df


def lut_src_hash(tag: str, sf_dir: str, name: str) -> str:
    """LUT source hash of table ``name``: ``tag``, the sf dir and the
    file's (size, mtime) fingerprint, so a table regenerated in place
    is a cache miss, never a stale LUT. The digest text is fixed —
    LUT caches on disk are keyed by it."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    ident = file_identity(path)
    if ident is None:
        raise FileNotFoundError(path)
    ((_, size, mtime_ns),) = ident
    return hashlib.sha1(
        f"{tag}|{os.path.abspath(sf_dir)}|{size}|{mtime_ns}".encode()
    ).hexdigest()[:16]


# WINDOW (generated by tools/window_plan.py --through 16
# — do not hand-edit; regenerate and re-run
# tests/test_window_plan.py after registering new queries):
# 8 never-checked first, then stalest driver evidence
# ascending (25 r12, 17 r13 in this window).
# Deferred to the next round: 183 rows (33 at r13, 50 at r14, 50 at r15, 50 at r16), stalest first:
#   q_knn_approx_recall (r13)
#   q_gauss_lut_reuse (r13)
#   q_resample_nearest_keyed (r13)
#   q_gauss_multi_sigma (r13)
#   q_bilinear_lut_reuse (r13)
#   q_regrid_geos (r13)
#   q_regrid_lcc (r13)
#   q_proj_utm (r13)
#   q_regrid_utm (r13)
#   q_regrid_omerc (r13)
#   q_regrid_aea (r13)
#   q_regrid_eqdc (r13)
#   q_regrid_moll (r13)
#   q_regrid_robin (r13)
#   q_regrid_stere_oblique (r13)
#   ... and 168 more at the same or newer rounds
_PRIORITY = [
    "q_hdf5_lzf_ingest",
    "q_lerc_ingest",
    "q_hdf5_zstd_ingest",
    "q_hdf5_lz4_ingest",
    "q_hdf5_bitshuffle_ingest",
    "q_regrid_geos_sphere",
    "q_regrid_axis",
    "q_regrid_geoc",
    "q_regrid_ease2_north",
    "q_regrid_etrs89",
    "q_regrid_lcc93",
    "q_regrid_merc3395",
    "q_regrid_gk",
    "q_regrid_abi",
    "q_gradient_walk",
    "q_ewa_multiband",
    "q_approx_distinct",
    "q_funnel",
    "q_events_retention",
    "q_bm25",
    "q_curation_pipeline",
    "q_dup_span",
    "q_bigram_logprob",
    "q_token_histogram",
    "q_dedup_span_mask",
    "q_contamination_frac",
    "q_line_dedup",
    "q_gopher_rules",
    "q_doc_chunk",
    "q_data_card",
    "q_quality_logreg",
    "q_embed_quantize",
    "q_embed_covariance",
    "q_hdf5_ingest",
    "q_jpeg_ingest",
    "q_proj_aea",
    "q_proj_eqdc",
    "q_proj_moll",
    "q_proj_robin",
    "q_proj_stere_oblique",
    "q_vincenty",
    "q_proj_omerc",
    "q_bucket_max",
    "q_bucket_absmax",
    "q_bucket_fractions",
    "q_first_per_bin",
    "q_coarsen_avg",
    "q_domain_bounds",
    "q_freeze_antimeridian",
    "q_knn_approx",
]

def load_all() -> dict:
    """Import every query module so REGISTRY is fully populated.

    Returns the registry with ``_PRIORITY`` names first (driver-unchecked
    and new queries), then everything else in registration order.
    """
    from pyresample_spark.queries import (  # noqa: F401
        core,
        geo_scalar,
        filters,
        bucket,
        joins,
        resample,
        setops,
        events,
        textops,
        similarity,
        multimodal,
        olap,
    )

    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:
        raise RuntimeError(
            f"_PRIORITY lists unregistered queries: {missing} — "
            "implement them or remove the names (VERDICT r3 item 2)"
        )
    front = {n: REGISTRY[n] for n in _PRIORITY}
    rest = {n: s for n, s in REGISTRY.items() if n not in front}
    return {**front, **rest}
