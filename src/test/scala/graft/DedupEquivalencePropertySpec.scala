package graft

import graft.operators.EventOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** `EventOps.dedupExact` against the `min(struct(rest))` aggregate it
  * replaced, kept here as the oracle: on random frames (nulls everywhere,
  * NaN and -0.0, multibyte text, nested structs and arrays, a handful of
  * keys, 1–16 input partitions) both keep the same multiset of rows.
  */
class DedupEquivalencePropertySpec extends SparkSpec {

  /** The replaced formula: keyed rows grouped on (user, time) keep the
    * min of a struct of the other columns; each null-key row is its own
    * group through a `monotonically_increasing_id`.
    */
  private def oracle(df: DataFrame): DataFrame = {
    val keys = Seq("_user", "_time")
    val rest = df.columns.filterNot(keys.contains).toSeq
    df.withColumn("_uid", when(col("_user").isNull || col("_time").isNull,
        monotonically_increasing_id()))
      .groupBy(col("_user"), col("_time"), col("_uid"))
      .agg(min(struct(rest.map(col): _*)).as("_rest"))
      .select(df.columns.toSeq.map(c =>
        if (keys.contains(c)) col(c) else col("_rest").getField(c).as(c)): _*)
  }

  /** A value as the survivor ordering sees it: -0.0 and 0.0 compare equal,
    * as do all NaNs, so a tie between them may keep either.
    */
  private def canon(v: Any): Any = v match {
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) 0.0 else d
    case r: Row => r.toSeq.map(canon)
    case xs: scala.collection.Seq[_] => xs.map(canon)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => canon(k) -> canon(x) }
    case b: Array[Byte] => b.toSeq
    case x => x
  }

  private def multiset(df: DataFrame): Map[Any, Int] =
    df.collect().toSeq.map(canon).groupBy(identity).view.mapValues(_.size).toMap

  private val text = Seq("a", "b", "é", "ß", "中文", "😀", "", "a😀", "B")
  private val doubles = Seq(0.0, -0.0, Double.NaN, 1.5, -1.5, Double.PositiveInfinity,
    Double.NegativeInfinity, 1e-300)
  private val inner = StructType(Seq(StructField("x", DoubleType), StructField("t", StringType)))
  private val restTypes: Seq[DataType] = Seq(DoubleType, StringType, LongType, BinaryType,
    inner, ArrayType(DoubleType), ArrayType(StringType), ArrayType(inner))

  private def value(dt: DataType, rnd: Random): Any =
    if (rnd.nextInt(5) == 0) null
    else dt match {
      case DoubleType => doubles(rnd.nextInt(doubles.size))
      case StringType => text(rnd.nextInt(text.size))
      case LongType => rnd.nextInt(3).toLong
      case BinaryType => Array.fill(rnd.nextInt(3))(rnd.nextInt(3).toByte)
      case TimestampType => new java.sql.Timestamp(1700000000000L + rnd.nextInt(3) * 1000L)
      case s: StructType => Row(s.fields.map(f => value(f.dataType, rnd)).toSeq: _*)
      case ArrayType(e, _) => Seq.fill(rnd.nextInt(3))(value(e, rnd))
      case MapType(StringType, LongType, _) =>
        Map(text(rnd.nextInt(3)) -> rnd.nextInt(3).toLong)
    }

  /** A frame of 20–300 rows over at most 4 users × 3 times, its columns
    * in random order, spread over 1–16 partitions.
    */
  private def frame(seed: Long, extra: Seq[DataType] = Nil): DataFrame = {
    val rnd = new Random(seed)
    val userType = if (rnd.nextInt(4) == 0) DoubleType else StringType
    val rest = Seq.fill(1 + rnd.nextInt(4))(restTypes(rnd.nextInt(restTypes.size))) ++ extra
    val fields = rnd.shuffle(
      Seq(StructField("_user", userType), StructField("_time", TimestampType)) ++
        rest.zipWithIndex.map { case (dt, i) => StructField(s"c$i", dt) })
    val users: Seq[Any] =
      if (userType == DoubleType) Seq(0.0, -0.0, Double.NaN, 2.0) else text.take(4)
    val rows = Seq.fill(20 + rnd.nextInt(280)) {
      Row(fields.map {
        case StructField("_user", _, _, _) =>
          if (rnd.nextInt(6) == 0) null else users(rnd.nextInt(users.size))
        case f => value(f.dataType, rnd)
      }: _*)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1 + rnd.nextInt(16)), StructType(fields))
  }

  test("dedupExact keeps the rows min(struct(rest)) keeps, on 60 random frames") {
    (1 to 60).foreach { seed =>
      val df = frame(seed)
      val got = multiset(EventOps.dedupExact(df))
      val want = multiset(oracle(df))
      assert(got == want, s"seed $seed, schema ${df.schema.simpleString}:\n" +
        s"only in dedupExact: ${got.toSeq.diff(want.toSeq)}\n" +
        s"only in the oracle: ${want.toSeq.diff(got.toSeq)}")
    }
  }

  test("a map column: keyed duplicates still collapse and every null-key row passes") {
    (1 to 20).foreach { seed =>
      val df = frame(seed, extra = Seq(MapType(StringType, LongType)))
      val in = df.collect().toSeq
      val out = EventOps.dedupExact(df).collect().toSeq
      val (u, t) = (df.schema.fieldIndex("_user"), df.schema.fieldIndex("_time"))
      def nullKey(r: Row) = r.isNullAt(u) || r.isNullAt(t)
      def key(r: Row) = canon(Row(r.get(u), r.get(t)))
      val canonIn = in.map(canon)
      assert(out.filter(nullKey).map(canon).sortBy(_.toString) ==
        in.filter(nullKey).map(canon).sortBy(_.toString), s"seed $seed: null-key rows changed")
      val keyed = out.filterNot(nullKey)
      assert(keyed.map(key).sortBy(_.toString) ==
        in.filterNot(nullKey).map(key).distinct.sortBy(_.toString),
        s"seed $seed: keyed rows not one per key")
      assert(keyed.forall(r => canonIn.contains(canon(r))), s"seed $seed: a kept row is not an input row")
    }
  }
}
