package graft.graph

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Shared sizing rules and the packed argmax of the iterative graph
  * operators. */
object GraphUtil {

  private val TwoTo64 = lit(new java.math.BigDecimal("18446744073709551616"))
    .cast("decimal(38,0)")
  private val MaxLong = lit(Long.MaxValue).cast("decimal(20,0)")

  /** Lexicographic argmax key (larger `score` wins, then the smaller
    * `label`) as ONE DECIMAL(38,0): `max(packArgmax(s, l))` elects the
    * same label as `max(struct(s, -l))`, but a struct aggregation
    * buffer is not HashAggregate-mutable — the struct form plans as
    * SortAggregate, a full sort of the candidate stream with
    * interpreted struct comparisons. v = score·2⁶⁴ + (2⁶³−1−label):
    * the offset is computed in DECIMAL, so it is exact for every Long
    * label (0 ≤ offset < 2⁶⁴), and the 2⁶⁴ stride keeps any score step
    * above the whole offset range, so v is strictly monotone in the
    * (score desc, label asc) order. Exact for |score| < 2⁶² (a row
    * count, or Louvain's bounded gain): |v| < 2¹²⁶ + 2⁶⁴ < 10³⁸. */
  def packArgmax(score: Column, label: Column): Column =
    score.cast("decimal(38,0)") * TwoTo64 +
      (MaxLong - label.cast("decimal(20,0)"))

  /** The label a [[packArgmax]] key encodes: `pmod` recovers the offset
    * exactly for negative scores too. */
  def unpackArgmax(packed: Column): Column =
    (MaxLong - pmod(packed, TwoTo64)).cast("long")

  /** Partition count for a cached edge table of `edges` rows: ~128k
    * edges per partition, floored at 4 (so a small graph still gets a
    * little parallelism) and capped at the cluster's parallelism (so a
    * big one scales out to the full width). The per-superstep frames of
    * a loop inherit this count through the co-partitioned join, so at
    * small scale the loop doesn't pay scheduler + codegen-init overhead
    * for dozens of near-empty tasks, and at 100 TB it grows to the
    * cluster. */
  def partitionLaw(edges: Long, spark: SparkSession): Int =
    math.max(4, math.min(spark.sparkContext.defaultParallelism,
      (edges / 128000L).toInt + 1))
}
