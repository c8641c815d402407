package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result.
  *
  * Columns are put in name order (position breaks ties), every row is
  * hashed with `xxhash64`, and the hashes are folded with an exact
  * decimal sum and a bit-xor next to the row count. Neither fold depends
  * on row order or on how rows are spread over partitions, so the
  * fingerprint is a property of the result set alone. Maps are hashed as
  * their key-sorted entry arrays, and types the row hash cannot take
  * (variants, or maps nested in other types) go through `to_json`.
  */
object ResultHash {

  private def hasUnhashable(t: DataType): Boolean = t match {
    case _: MapType => true
    case _: VariantType => true
    case a: ArrayType => hasUnhashable(a.elementType)
    case s: StructType => s.fields.exists(f => hasUnhashable(f.dataType))
    case _ => false
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case m: MapType if !hasUnhashable(m.keyType) && !hasUnhashable(m.valueType) =>
      array_sort(map_entries(c))
    case _: VariantType => to_json(c)
    case other if hasUnhashable(other) => to_json(c)
    case _ => c
  }

  /** `rows:sum:xor` of the row hashes. Runs one aggregation job. */
  def of(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val xor = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}:$total:$xor%016x"
  }

  def rows(hash: String): Long = hash.takeWhile(_ != ':').toLong

  /** The fingerprint's own contract, checked on a real query result:
    * unchanged under a row shuffle and under another shuffle-partition
    * count, changed when one value is altered. Returns the failures.
    */
  def selfCheck(spark: SparkSession, build: () => DataFrame): Seq[String] = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def at(parts: Int)(f: DataFrame => DataFrame): String = {
      spark.conf.set(key, parts.toString)
      try of(f(build())) finally spark.conf.set(key, prev)
    }
    val base = at(prev.toInt)(identity)
    val shuffled = at(prev.toInt)(_.repartition(3).sortWithinPartitions(rand(7)))
    val otherParts = at(prev.toInt * 2 + 1)(identity)
    // Rebuild the result from its collected rows, then change one value
    // of one row: the copy must hash like the original, the edit must not.
    val df = build()
    val rows = df.collect()
    val copy = of(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
    val j = df.schema.fields.indexWhere(f => f.dataType match {
      case StringType | LongType | IntegerType | DoubleType => true
      case _: DecimalType => true
      case _ => false
    })
    val edited = rows.headOption.filter(_ => j >= 0).map { r =>
      val v = r.toSeq.toArray
      v(j) = v(j) match {
        case s: String => s + "#"
        case l: java.lang.Long => l + 1L
        case i: java.lang.Integer => i + 1
        case d: java.lang.Double => d + 1.0
        case d: java.math.BigDecimal => d.add(java.math.BigDecimal.ONE)
        case null => df.schema.fields(j).dataType match {
          case StringType => "#"
          case LongType => 1L
          case IntegerType => 1
          case DoubleType => 1.0
          case _ => java.math.BigDecimal.ONE
        }
      }
      of(spark.createDataFrame(java.util.Arrays.asList(
        (org.apache.spark.sql.Row.fromSeq(v.toSeq) +: rows.tail): _*), df.schema))
    }
    Seq(
      if (shuffled != base) Some(s"row order moved the hash: $base vs $shuffled") else None,
      if (otherParts != base) Some(s"partition count moved the hash: $base vs $otherParts") else None,
      if (copy != base) Some(s"a collected copy hashed differently: $base vs $copy") else None,
      edited match {
        case None => Some("no row with a value to alter")
        case Some(e) if e == base => Some("altering one value left the hash unchanged")
        case _ => None
      },
    ).flatten
  }
}
