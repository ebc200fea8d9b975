"""Geometric scalar expressions shared by the outlier/clustering operators.

All are plain Column expressions (JVM-side, whole-stage codegen) — no
UDFs. The squared-distance form mirrors the reference's avoid-sqrt
optimization (``G016HW2.java:99-103``): Catalyst will not remove a
redundant ``sqrt`` for us, so we never introduce it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame  # noqa: F401 (DataFrame in sigs)
from pyspark.sql import functions as F


def dist_sq(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Squared Euclidean distance between two 2-D points."""
    return (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)


def cell_ids(df: DataFrame, side: float) -> DataFrame:
    """Attach integer grid-cell ids ``(ci, cj)`` of the points ``(x, y)``
    on a square grid.

    Mirrors ``(int) Math.floor(x / lam)`` (``G019HW1.java:183-185``)
    with ``side`` the cell side length (Λ = D/(2√2) for MRApproxOutliers,
    D for the exact grid join).
    """
    return df.withColumn("ci", F.floor(F.col("x") / side).cast("int")) \
             .withColumn("cj", F.floor(F.col("y") / side).cast("int"))


def neighbor_offsets(radius: int) -> Column:
    """Literal array of Chebyshev-ball offset structs ``(di, dj)``.

    Turning the reference's range scan over cells
    (``G019HW1.java:228-254``) into an offset-explode **equi**-join is
    the scale move: a (2r+1)² fan-out followed by a hash join on shifted
    keys shuffles O(cells·(2r+1)²) rows instead of requiring a
    broadcast nested-loop range join (or the reference's driver loop).
    A literal array + ``explode`` keeps the fan-out inside whole-stage
    codegen — no ExistingRDD scan, no broadcast cross join.
    """
    r = radius
    return F.array(*[
        F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
        for di in range(-r, r + 1) for dj in range(-r, r + 1)
    ])
