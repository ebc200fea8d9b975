"""HW1 drop-in: exact + approximate (M,D)-outlier detection.

Mirrors ``G019HW1.main`` (``G019HW1.java:35-100``): same CLI, same
report lines, same semantics — but both detectors run as distributed
DataFrame pipelines instead of driver loops, so the 200k gate on the
exact detector is kept only for CLI parity, not necessity.

Known deliberate deviation: the reference's first-K cell list breaks
size ties in hash-partition order (nondeterministic run to run); we
break ties by (ci, cj) so output is stable.
"""

from __future__ import annotations

import sys
import time

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import parse_args, positive


def _jfloat(v: float) -> str:
    """Java ``Float.toString`` lookalike: shortest float32 round-trip."""
    return repr(np.float32(v))


def run(spark: SparkSession, filename: str, d: float, m: int, k: int,
        l: int, exact_gate: int = 200_000) -> list[str]:
    from ..operators.outliers import cell_grid_stats, exact_outliers
    from ..sources.tables import read_points_csv

    lines: list[str] = []
    # pid is assigned BELOW the round-robin exchange (the project sits
    # under Exchange RoundRobinPartitioning in the physical plan), so
    # ids are minted in scan order: (split_id << 33) + offset, and file
    # splits of a single CSV are ordered by byte offset → pid order IS
    # file order (verified against TestN15 and uber-10k byte order).
    pts = read_points_csv(spark, filename, float32_parity=True) \
        .withColumn("pid", F.monotonically_increasing_id())
    pts = pts.repartition(l).cache()  # X1, as G019HW1.java:68
    n = pts.count()
    lines.append(f"{filename.rsplit('/', 1)[-1]} D={_jfloat(d)} M={m} K={k} L={l}")
    lines.append(f"Number of points: {n}")

    if n <= exact_gate:
        t0 = time.perf_counter()
        out = exact_outliers(pts, d, m)
        # stable (count, input-order) sort = the reference's
        # Collections.sort on counts (stable) over the input list
        rows = out.orderBy("n_neighbors", "pid").limit(k).collect()
        n_out = out.count()
        ms = int((time.perf_counter() - t0) * 1000)
        lines.append(f"Number of Outliers = {n_out}")
        for r in rows:
            lines.append(f"Point: ({_jfloat(r.x)}, {_jfloat(r.y)})")
        lines.append(f"Running time of ExactOutliers = {ms} ms")

    t0 = time.perf_counter()
    stats = cell_grid_stats(pts, d).cache()
    sure, uncertain = stats.agg(
        F.coalesce(F.sum(F.when(F.col("n7") <= m, F.col("size"))), F.lit(0)),
        F.coalesce(F.sum(F.when((F.col("n3") <= m) & (F.col("n7") > m),
                                F.col("size"))), F.lit(0)),
    ).collect()[0]
    cells = stats.orderBy("size", "ci", "cj").limit(k).collect()
    ms = int((time.perf_counter() - t0) * 1000)
    lines.append(f"Number of sure outliers = {sure}")
    lines.append(f"Number of uncertain points = {uncertain}")
    for c in cells:
        lines.append(f"Cell: ({c.ci}, {c.cj})  Size = {c.size}")
    lines.append(f"Running time of MRApproxOutliers = {ms} ms")
    stats.unpersist()
    pts.unpersist()
    return lines


USAGE = "Usage: hw1 <file> <D> <M> <K> <L>"
PARAMS = [("D", positive(float)), ("M", positive(int)),
          ("K", positive(int)), ("L", positive(int))]


def main(argv: list[str]) -> int:
    if len(argv) < 5:
        print("Please provide filename, D, M, K, and L as command-line arguments")
        return 1
    values = parse_args(argv[1:5], PARAMS)
    if values is None:
        print(USAGE)
        return 2
    from ..session import get_session

    spark = get_session("G019HW1")
    for line in run(spark, argv[0], *values):
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
