package graft

import graft.ingest.{JsonDialect, JsonEventParser, JsonIngest}
import graft.operators.EventOps
import graft.schema.{CollectionId, EventSchema, FieldNames}
import graft.sinks.{ColumnarSink, EventSink}
import graft.streaming.{IngestConfig, IngestStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.Random

/** The one JSON frame builder, `JsonIngest.parse`, against a driver-side
  * oracle kept here (`JsonEventParser.parseEvent` on each record), and the
  * two write shapes of `BatchWriter` against each other. Batches are
  * random: collections with their own or a shared field set, dirty values
  * (a string where a number is declared, nulls, nested values), records
  * with no valid routing, and member sets that leave collections out or
  * name collections the batch does not hold.
  */
class WriteBuilderPropertySpec extends SparkSpec {

  private val names = FieldNames()
  private val fields = Seq("a", "b", "n", "flag", "tags")

  /** A value for `field`; a dirty one may not match the field's type. */
  private def jsonValue(field: String, rnd: Random, dirty: Boolean): String =
    rnd.nextInt(12) match {
      case 0 => "null"
      case 1 if dirty => "\"dirty\""
      case 2 if dirty => """{"k":1}"""
      case _ => field match {
        case "n"    => (rnd.nextInt(2000) - 1000).toString
        case "flag" => rnd.nextBoolean().toString
        case "tags" => s"""["t${rnd.nextInt(3)}","t${rnd.nextInt(3)}"]"""
        case _      => s""""${Seq("x", "é", "中", "")(rnd.nextInt(4))}${rnd.nextInt(5)}""""
      }
    }

  /** One Fabric record of `collection` carrying `present` (in that order). */
  private def record(collection: String, present: Seq[String], rnd: Random,
                     dirty: Boolean = true): String = {
    val time = if (rnd.nextInt(10) == 0) "" else s""","_time":${1700000000000L + rnd.nextInt(100000)}"""
    val props = present.map(f => s""","$f":${jsonValue(f, rnd, dirty)}""").mkString
    s"""{"data":{"_project":"p","_collection":"$collection"$time,"_user":"u${rnd.nextInt(4)}"$props}}"""
  }

  /** Records that route nowhere: `decouple` gives them null routing. */
  private val unroutable = Seq("not json", """{"data":{"_project":"p"}}""",
    """{"data":{"_project":"p","_collection":"_hidden","x":1}}""", "")

  private def randomBatch(rnd: Random): Seq[String] = {
    val collections = (0 until 2 + rnd.nextInt(5)).map(i => s"c$i")
    val records = collections.flatMap { c =>
      val present = fields.filter(_ => rnd.nextBoolean())
      Seq.fill(1 + rnd.nextInt(25))(record(c, present.filter(_ => rnd.nextInt(4) > 0), rnd))
    }
    rnd.shuffle(records ++ unroutable.filter(_ => rnd.nextBoolean()))
  }

  private def randomSchema(rnd: Random): StructType = {
    val types = Seq(StringType, DoubleType, LongType, BooleanType, ArrayType(StringType),
      MapType(StringType, StringType))
    StructType(Seq(StructField("_time", TimestampType), StructField("_user", StringType)) ++
      fields.filter(_ => rnd.nextInt(3) > 0).map(f => StructField(f, types(rnd.nextInt(types.size)))))
  }

  private def bag(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.groupBy(identity).map { case (k, g) => k -> g.size }

  test("property: the one JSON parse loop returns per collection exactly parseEvent's rows") {
    import spark.implicits._
    (1 to 8).foreach { seed =>
      val rnd = new Random(seed)
      val batch = randomBatch(rnd)
      val schema = randomSchema(rnd)
      // the routed frame keeps its null-routed rows: the loop must drop them
      val routed = EventOps.decouple(batch.toDS().repartition(1 + rnd.nextInt(4)),
        JsonDialect.Fabric, names)
      val ids = batch.flatMap(JsonEventParser.parseEvent(_, JsonDialect.Fabric, schema, names))
      val valid = ids.map(_._1).distinct
      val members: Option[Seq[CollectionId]] =
        if (seed % 4 == 0) None
        else Some(valid.filter(_ => rnd.nextBoolean()) :+ CollectionId("p", "absent"))
      val want = ids.filter { case (id, _) => members.forall(_.contains(id)) }
        .groupMap(_._1)(_._2.toSeq)
      val got = JsonIngest.parse(routed, members, schema, JsonDialect.Fabric, names)
        .collect().toSeq
        .groupMap(r => CollectionId(r.getString(schema.length), r.getString(schema.length + 1)))(
          _.toSeq.take(schema.length))
      val label = s"seed $seed, members ${members.map(_.map(_.collection))}, schema ${schema.simpleString}"
      assert(got.keySet == want.keySet, label)
      want.foreach { case (id, rows) => assert(bag(got(id)) == bag(rows), s"$label, $id") }
    }
  }

  /** A [[ColumnarSink]] that records which write shapes it ran. */
  private final class Recording(dir: String) extends EventSink {
    val inner = new ColumnarSink(dir)
    val shapes = new ConcurrentLinkedQueue[String]()
    override def getColumns(id: CollectionId) = inner.getColumns(id)
    override def insert(id: CollectionId, df: DataFrame): Unit = {
      shapes.add("single"); inner.insert(id, df)
    }
    override def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit = {
      shapes.add("single"); inner.insert(id, df, batchId)
    }
    override def supportsConsolidated: Boolean = true
    override def insertConsolidated(rows: DataFrame, batchId: Long): Unit = {
      shapes.add("cohort"); inner.insertConsolidated(rows, batchId)
    }
  }

  test("property: a per-collection write holds the rows a cohort write of the collection holds") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new Random(100 + seed)
      // families of collections that share a field set in one order, so
      // their inferred schemas match and they write as one cohort; the
      // first record of each collection carries every field non-null
      val families = (0 until 2).map(_ => fields.filter(f => f == "n" || rnd.nextBoolean()))
      val batch = rnd.shuffle((0 until 5).flatMap { i =>
        val present = families(i % families.size)
        val full = present.map {
          case "n" => ",\"n\":1"; case "flag" => ",\"flag\":true"
          case "tags" => ",\"tags\":[\"t\"]"; case f => s",\"$f\":\"v\""
        }.mkString
        s"""{"data":{"_project":"p","_collection":"c$i","_time":1700000000000,"_user":"u0"$full}}""" +:
          Seq.fill(1 + rnd.nextInt(20))(record(s"c$i", present, rnd, dirty = false))
      } ++ unroutable)
      def run(threshold: Int): (Map[CollectionId, Long], Recording) = {
        val sink = new Recording(java.nio.file.Files.createTempDirectory("builder_eq").toString)
        val counts = IngestStream.processBatch(spark, batch.toDS().repartition(3),
          new EventSchema.Registry(), sink, None,
          IngestConfig(splitEnabled = false, consolidateThreshold = threshold), batchId = 5)
        (counts, sink)
      }
      val (singleCounts, single) = run(0)
      val (cohortCounts, cohort) = run(1)
      assert(single.shapes.toArray.toSet == Set("single"), s"seed $seed")
      assert(cohort.shapes.toArray.toSet.contains("cohort"), s"seed $seed: no cohort formed")
      assert(singleCounts == cohortCounts, s"seed $seed")
      singleCounts.keys.foreach { id =>
        def atRest(s: Recording): Map[Seq[Any], Int] = {
          val df = s.inner.read(spark, id).drop("_shard_time", "batch")
          bag(df.select(df.columns.sorted.toSeq.map(col): _*).collect().toSeq.map(_.toSeq))
        }
        assert(atRest(single) == atRest(cohort), s"seed $seed, $id")
      }
    }
  }
}
