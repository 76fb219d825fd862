"""SQL expression-building helpers shared across operators/queries."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def let_expr(bindings, var: str, body: str) -> str:
    """Emulate a let-binding in Spark SQL: bind each (name, expr) once
    inside a single-element ``transform`` lambda; ``body`` references
    them as ``var.name`` — leaf variable reads, NOT inline copies.

    Why this exists: plain staged Projects get merged by Catalyst's
    CollapseProject, which SUBSTITUTES every alias into each of its
    consumers. A chain whose stages reference their inputs 3-4× each
    therefore grows multiplicatively — the bilinear (t, s) chain took
    ~90 s of analysis + AQE reoptimization for 27 rows when staged as
    selects. Lambda variables are opaque to the optimizer's inliner,
    keeping the expression tree LINEAR in the number of formulas.

    The price is speed: a higher-order ``transform`` is
    CodegenFallback, so the whole lambda tree is evaluated interpreted
    per row. Use it where the bindings must live inside ONE
    expression: a fold over an array (the PQ encode/search, the IVF
    argmin) or a value that is then consumed in the same projection
    (the datum-shifted regrid index). Where a per-row result only has
    to be computed once before a filter or join reads it, use
    :func:`generate_barrier` instead: it stays codegen'd, and it also
    stops predicate pushdown from copying the math into filters."""
    pairs = ", ".join(f"'{n}', {e}" for n, e in bindings)
    return (
        f"element_at(transform(array(named_struct({pairs})), "
        f"{var} -> {body}), 1)"
    )


def generate_barrier(df: DataFrame, keep: list, named_exprs: list,
                     alias: str) -> DataFrame:
    """``keep`` columns plus one struct column ``alias`` holding each
    ``(name, expr)`` of ``named_exprs`` (SQL text or Column), evaluated
    exactly once per row behind a Generate barrier.

    The struct is ``explode(array(named_struct(...)))`` of a
    one-element array: row-preserving and codegen'd. Its fields are
    generator output, and Catalyst cannot push a filter that reads
    generator output below the Generate. Without the barrier,
    PushDownPredicates substitutes the projected expressions into
    every filter it pushes through a Project or into a join condition
    (no cost guard), and a LAEA regrid's projection math runs about
    three times per pixel. ``get_spark`` turns constraint propagation
    off, so InferFiltersFromConstraints no longer adds inferred copies;
    the pushdown above still runs, and the barrier is what stops it.
    The same barrier stops CollapseProject from inlining a staged
    chain's aliases into their consumers.

    Put it where expensive per-row math (CRS transforms, solve stages)
    feeds a filter or a join key. Read the fields as ``alias.name``.
    SQL-text input builds the whole stage in one ``selectExpr`` (one
    re-analysis of the accumulated plan); Column input goes through
    the Column API."""
    if all(isinstance(e, str) for _, e in named_exprs):
        items = ", ".join(f"'{n}', {e}" for n, e in named_exprs)
        return df.selectExpr(
            *keep, f"explode(array(named_struct({items}))) AS {alias}"
        )
    fields = [(F.expr(e) if isinstance(e, str) else e).alias(n)
              for n, e in named_exprs]
    return df.select(
        *keep, F.explode(F.array(F.struct(*fields))).alias(alias)
    )
