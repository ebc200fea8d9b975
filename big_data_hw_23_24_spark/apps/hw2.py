"""HW2 drop-in: MRFFT k-center radius → approximate outliers.

Mirrors ``G016HW2.main`` (``G016HW2.java:40-89``): same CLI and report.
Round timings are measured around the same boundaries as the reference
(R1 = coreset job, R2 = driver FFT, R3 = broadcast max-min-distance
job).
"""

from __future__ import annotations

import sys
import time

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import parse_args, positive


def run(spark: SparkSession, filename: str, m: int, k: int, l: int
        ) -> list[str]:
    from ..operators.clustering import (
        _partition_fft,
        _partition_max_min_dist,
        sequential_fft,
    )
    from ..operators.outliers import mr_approx_outliers
    from ..sources.tables import read_points_csv

    lines: list[str] = []
    pts = read_points_csv(spark, filename, float32_parity=True) \
        .repartition(l).cache()
    n = pts.count()
    lines.append(f"{filename.rsplit('/', 1)[-1]} M={m} K={k} L={l}")
    lines.append(f"Number of points: {n}")

    df = pts.select("x", "y")
    t0 = time.perf_counter()
    coreset_rows = df.mapInPandas(_partition_fft(k), "x double, y double") \
        .collect()
    r1_ms = int((time.perf_counter() - t0) * 1000)
    coreset = np.array([[r.x, r.y] for r in coreset_rows],
                       dtype=np.float64).reshape(-1, 2)

    t0 = time.perf_counter()
    centers = sequential_fft(coreset, k)
    r2_ms = int((time.perf_counter() - t0) * 1000)

    t0 = time.perf_counter()
    row = df.mapInPandas(_partition_max_min_dist(centers),
                         "partial_max double") \
        .agg(F.max("partial_max")).collect()[0]
    radius = float(np.float32(row[0] ** 0.5))  # float cast, G016HW2.java:212
    r3_ms = int((time.perf_counter() - t0) * 1000)

    lines.append(f"Running time of MRFFT Round 1 = {r1_ms} ms")
    lines.append(f"Running time of MRFFT Round 2 = {r2_ms} ms")
    lines.append(f"Running time of MRFFT Round 3 = {r3_ms} ms")
    lines.append(f"Radius = {repr(np.float32(radius))}")

    t0 = time.perf_counter()
    srow = mr_approx_outliers(pts.withColumn("pid", F.lit(0)), radius, m) \
        .collect()[0]
    ms = int((time.perf_counter() - t0) * 1000)
    lines.append(f"Number of sure outliers = {srow['sure_outliers']}")
    lines.append(f"Number of uncertain points = {srow['uncertain_points']}")
    lines.append(f"Running time of MRApproxOutliers = {ms} ms")
    pts.unpersist()
    return lines


USAGE = "Usage: hw2 <file> <M> <K> <L>"
PARAMS = [("M", positive(int)), ("K", positive(int)), ("L", positive(int))]


def main(argv: list[str]) -> int:
    if len(argv) < 4:
        print("Please provide filename, M, K, and L as command-line arguments")
        return 1
    values = parse_args(argv[1:4], PARAMS)
    if values is None:
        print(USAGE)
        return 2
    from ..session import get_session

    spark = get_session("G016HW2")
    for line in run(spark, argv[0], *values):
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
