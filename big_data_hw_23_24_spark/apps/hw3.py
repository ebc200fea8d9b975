"""HW3 drop-in: streaming frequent items (exact / reservoir / sticky).

Mirrors ``G016HW3.main`` (``G016HW3.java:39-231``) including the exact
report format of the published outputs
(``Homework_3/Data/Example/Output1M_*.txt``). The stream source is the
same integer-per-line socket; ``report_lines`` is factored out so tests
can drive it with a deterministic stream.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from . import fraction, parse_args, positive
from ..streaming.frequent_stream import (
    FrequentItemsMonitor,
    run_frequent_items,
    socket_item_stream,
)


def report_lines(monitor: FrequentItemsMonitor, port: str) -> list[str]:
    lines = [
        "INPUT PROPERTIES",
        f"n = {monitor.n} phi = {monitor.phi} epsilon = {monitor.eps} "
        f"delta = {monitor.delta} port = {port}",
        "EXACT ALGORITHM",
        f"Number of items in the data structure = {len(monitor.histogram)}",
    ]
    import math

    thr = math.ceil(monitor.phi * monitor.stream_length)
    true_frequent = sorted(k for k, v in monitor.histogram.items()
                           if v >= thr)
    lines.append(f"Number of true frequent items = {len(true_frequent)}")
    lines.append("True frequent items:")
    lines.extend(str(i) for i in true_frequent)

    true_set = set(true_frequent)
    sample = monitor.reservoir.estimated_frequent()
    lines.append("RESERVOIR SAMPLING")
    lines.append(f"Size m of the sample = {monitor.reservoir.m}")
    lines.append(f"Number of estimated frequent items = {len(sample)}")
    lines.append("Estimated frequent items:")
    lines.extend(f"{i} {'+' if i in true_set else '-'}" for i in sample)

    sticky_frequent = monitor.sticky.estimated_frequent()
    lines.append("STICKY SAMPLING")
    lines.append("Number of items in the Hash Table = "
                 f"{len(monitor.sticky.table)}")
    lines.append(f"Number of estimated frequent items = {len(sticky_frequent)}")
    lines.append("Estimated frequent items:")
    lines.extend(f"{i} {'+' if i in true_set else '-'}"
                 for i in sticky_frequent)
    return lines


def run(spark: SparkSession, n: int, phi: float, eps: float, delta: float,
        port: int, host: str = "algo.dei.unipd.it",
        timeout_sec: float = 300.0) -> list[str]:
    monitor = FrequentItemsMonitor(n=n, phi=phi, eps=eps, delta=delta)
    stream = socket_item_stream(spark, host, port)
    run_frequent_items(spark, stream, monitor, item_col="item",
                       order_col=None, timeout_sec=timeout_sec)
    return report_lines(monitor, str(port))


USAGE = "Usage: hw3 <n> <phi> <epsilon> <delta> <port> [host]"
PARAMS = [("n", positive(int)), ("phi", fraction), ("epsilon", fraction),
          ("delta", fraction), ("port", int)]


def main(argv: list[str]) -> int:
    if len(argv) < 5:
        print("Please provide n, phi, epsilon, delta, port "
              "as command-line arguments")
        return 1
    values = parse_args(argv[:5], PARAMS)
    if values is None:
        print(USAGE)
        return 2
    from ..session import get_session

    n, phi, eps, delta, port = values
    # optional 6th arg overrides the course stream host
    # (algo.dei.unipd.it, Third Assignment.pdf PORTS section)
    host = argv[5] if len(argv) > 5 else "algo.dei.unipd.it"
    spark = get_session("G016HW3")
    for line in run(spark, n, phi, eps, delta, port, host=host):
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
