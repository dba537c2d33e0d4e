"""Final-state gate for the replay workloads: an independent fold of the
seeded log, compared with the replicated table by an order-independent
digest of (repo, path, content_sha256).

The fold is written here from the log's contract alone (per key, the
highest ``event_seq`` wins; a winning delete removes the key; DDL rows
carry no data). It shares no code with the engine's apply path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DML = ("insert", "update", "delete")


def digest(df: DataFrame) -> tuple[int, int, int]:
    """(rows, sum of one 64-bit row hash, sum of another): equal for two
    equal multisets of (repo, path, content_sha256), whatever the order."""
    h1 = F.xxhash64("repo", "path", "content_sha256").cast("decimal(38,0)")
    h2 = F.xxhash64(F.lit("b"), "content_sha256", "path", "repo").cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h1), F.sum(h2)).collect()[0]
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


def fold(events: DataFrame) -> DataFrame:
    """Per (repo, path) the last DML event by event_seq; keys whose last
    event is a delete are dropped. Returns repo, path, content_sha256."""
    dml = events.filter(F.col("event_type").isin(*DML))
    last = Window.partitionBy("repo", "path").orderBy(F.col("event_seq").desc())
    return (
        dml.withColumn("__rank", F.row_number().over(last))
        .filter((F.col("__rank") == 1) & (F.col("event_type") != "delete"))
        .select("repo", "path", F.sha2(F.col("content"), 256).alias("content_sha256"))
    )


def fold_generated(spark, gen, n_events: int) -> DataFrame:
    """The fold for a lazily generated log of ``n_events`` (seqs 0..n-1).
    Winners are found on the cheap key columns first; content is
    generated again only for the winning seqs (every generated column is
    a pure function of event_seq)."""
    keys = gen(spark.range(n_events).withColumnRenamed("id", "event_seq")).select(
        "repo", "path", "event_type", "event_seq"
    ).filter(F.col("event_type").isin(*DML))
    winners = (
        keys.groupBy("repo", "path")
        .agg(F.max_by("event_type", "event_seq").alias("t"), F.max("event_seq").alias("event_seq"))
        .filter(F.col("t") != "delete")
        .select("event_seq")
    )
    return gen(winners).select(
        "repo", "path", F.sha2(F.col("content"), 256).alias("content_sha256")
    )
