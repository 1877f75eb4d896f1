package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Catalyst rows → DataFrame with no external-Row encoder in between.
  * Spark keeps `internalCreateDataFrame` `private[sql]`; this shim (same
  * idiom as [[ColumnBridge]]) re-exposes it for decoders that already
  * produce `InternalRow`s. The frame plans as a scan of `rows`, which
  * projects every row to an `UnsafeRow`, so `rows` may reuse one mutable
  * row object.
  */
object DataFrameBridge {
  def ofRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
