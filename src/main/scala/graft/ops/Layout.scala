package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering — Z-order (Morton) keys for multi-column
  * data-skipping, the standard lakehouse technique for making file-level
  * min/max statistics effective on TWO filter columns at once: sort by
  * the interleaved key and both columns become range-clustered across
  * files, so a scan with a predicate on either column prunes most files.
  */
object Layout {

  /** 16-bit Morton spread: the low 16 bits of `c` spaced out to even bit
    * positions 0,2,..,30 (the classic magic-number shift chain — four
    * masked doublings, all BIGINT-exact, replicated verbatim in the q72
    * oracle). */
  def spread16(c: Column): Column = {
    val a = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val d = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    (d.bitwiseOR(shiftleft(d, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Interleave two 16-bit quantized coordinates into one 32-bit Morton
    * key: x on even bits, y on odd bits. */
  def zValue(qx: Column, qy: Column): Column =
    spread16(qx).bitwiseOR(shiftleft(spread16(qy), 1))

  /** Append a Z-order key over two numeric columns, quantized to 16-bit
    * ranks of each column's [min, max] span. The domain stats are a
    * 1-row aggregate CROSS-JOINED BROADCAST into the plan — no collect,
    * no eager job at composition time; at 1000 executors the stats pass
    * is one tiny tree-aggregate and the key itself is map-only compiled
    * arithmetic. Quantization is floor((v−min)·65535/(max−min)) in
    * doubles over integer inputs (bit-exact across engines); a constant
    * column (max==min) quantizes to 0. */
  def zorder(df: DataFrame, xCol: String, yCol: String,
             outCol: String = "zorder"): DataFrame = {
    val stats = df.agg(
      min(col(xCol)).cast("double").as("__xmin"),
      max(col(xCol)).cast("double").as("__xmax"),
      min(col(yCol)).cast("double").as("__ymin"),
      max(col(yCol)).cast("double").as("__ymax"))
    def quant(v: Column, lo: Column, hi: Column): Column =
      floor((v.cast("double") - lo) * 65535.0 /
        greatest(hi - lo, lit(1.0))).cast("long")
    df.crossJoin(broadcast(stats))
      .withColumn(outCol, zValue(
        quant(col(xCol), col("__xmin"), col("__xmax")),
        quant(col(yCol), col("__ymin"), col("__ymax"))))
      .drop("__xmin", "__xmax", "__ymin", "__ymax")
  }

  /** Range-partition by the Z-order key — the write-path layout step:
    * `zorderWrite(df, n, "a", "b").write.parquet(...)` produces `n`
    * files each covering a compact Morton range, so min/max file stats
    * prune on BOTH a and b. One range-exchange (sampled boundaries),
    * no global sort. */
  def zorderWrite(df: DataFrame, numPartitions: Int,
                  xCol: String, yCol: String): DataFrame = {
    val z = zorder(df, xCol, yCol)
    z.repartitionByRange(numPartitions, col("zorder"))
      .sortWithinPartitions("zorder")
  }

  /** [[zorderWrite]] persisted as a managed parquet table — the layout
    * half of 2-D data skipping: each of the `numFiles` files covers a
    * compact Morton range, so its footer min/max is tight on BOTH x
    * and y and [[graft.sources.FileStats.loadBetween]] prunes files on
    * a range over EITHER column. The Z key is dropped before the
    * write (it is layout, not data — the projection after the range
    * exchange preserves the clustered order). Same orphan-location
    * preclear as the bucketed writer
    * ([[graft.sources.Bucketed.dropAndClear]]); the written files are
    * then committed as the table's generation-1 `create` manifest
    * ([[graft.sources.Bucketed.commitCreated]]), so the table is an
    * unbucketed governed table that [[graft.sources.Bucketed.load]] and
    * [[graft.sources.FileStats]] resolve like any other. */
  def saveClustered(df: DataFrame, table: String, xCol: String,
                    yCol: String, numFiles: Int): Unit = {
    val spark = df.sparkSession
    require(!table.contains("`") && !table.contains("."),
      s"expected an unqualified table name, got: $table")
    graft.sources.Bucketed.dropAndClear(spark, table)
    zorderWrite(df, numFiles, xCol, yCol).drop("zorder")
      .write.mode("overwrite").format("parquet").saveAsTable(table)
    graft.sources.Bucketed.commitCreated(spark, table)
  }
}
