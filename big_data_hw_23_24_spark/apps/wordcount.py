"""Tutorial drop-in: word count + average word length.

Mirrors ``Test/src/WordCountExample.java`` — which implements word
count three ways (1-round, 2-round with random keys, 2-round with
``mapPartitions``) purely to teach shuffle control. On this engine all
three collapse into ``explode → groupBy(word).count()``: Catalyst
always inserts the map-side partial aggregate the 2-round variants
hand-code, and AQE handles reducer skew the random-key variant guards
against (SURVEY §2.3 A2). The CLI keeps the reference's (K, file)
signature; K is accepted for parity and noted.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import parse_args, positive

USAGE = "Usage: wordcount <K> <file>"


def run(spark: SparkSession, path: str, num_partitions: int = 4
        ) -> list[str]:
    docs = spark.read.text(path).withColumnRenamed("value", "line") \
        .repartition(num_partitions).cache()
    words = docs.select(F.explode(F.split("line", " ")).alias("word")) \
        .where(F.col("word") != "")
    counts = words.groupBy("word").agg(F.count("*").alias("cnt")).cache()
    n_distinct = counts.count()
    total = counts.agg(F.sum("cnt")).collect()[0][0]
    avg_len = words.agg(F.avg(F.length("word"))).collect()[0][0]
    return [
        f"Number of distinct words = {n_distinct}",
        f"Total word occurrences = {total}",
        f"Average word length = {avg_len}",
    ]


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(USAGE)
        return 1
    values = parse_args(argv[:1], [("K", positive(int))])
    if values is None:
        print(USAGE)
        return 2
    from ..session import get_session

    spark = get_session("WordCountExample")
    for line in run(spark, argv[1], num_partitions=values[0]):
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
