package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.hl7.Pipeline

/** `Pipeline.writeLake` over a small self-made inbox: the catalog is exactly
  * a projection of the written lake, and the inbox is scanned and parsed
  * once per lake write. */
class LakeWriteSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def er7(id: String, tpe: String, pid: String) =
    Seq(s"MSH|^~\\&|LAB|HOSP|EHR|HOSP|20240101120000||$tpe|$id|P|2.5",
        s"PID|1||$pid||DOE^JANE||19800101|F").mkString("\n")

  private val adt = er7("C1", "ADT^A01", "P1")
  private val oru = er7("C2", "ORU^R01", "P2") + "\nOBX|1|NM|GLU||5.4|mmol/L"
  private val adt2 = er7("C3", "ADT^A08", "P3")
  private val bad = "I'm just a random number: 42"

  /** Two files: `a` holds an exact duplicate of its first message, `b` one
    * unparseable payload. Unique messages: adt, oru, adt2, bad. */
  private lazy val inbox: Path = {
    val dir = Files.createTempDirectory("graft-lake-inbox")
    Files.write(dir.resolve("a.txt"), Seq(adt, oru, adt).mkString("", "\n\n", "\n").getBytes(UTF_8))
    Files.write(dir.resolve("b.txt"), Seq(adt2, bad).mkString("", "\r\n\r\n", "\r\n").getBytes(UTF_8))
    dir
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def newRoot(): String = Files.createTempDirectory("graft-lake").toString

  private def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Written inbox lake, shared by the read-side tests. */
  private lazy val lake: String = {
    val root = newRoot()
    Pipeline.writeLake(Pipeline.allEvents(spark, inbox.toString), root)
    root
  }

  test("catalog is a row-for-row projection of the written lake") {
    val messages = spark.read.parquet(s"$lake/messages")
    val catalog = spark.read.parquet(s"$lake/catalog")
    // 4 unique messages in the ingestion zone; 3 staged + 1 error
    val zones = messages.groupBy("zone").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(zones == Map("ingestion" -> 4L, "staging" -> 3L, "error" -> 1L))
    assert(catalog.count() == messages.count())
    val key = Seq("message_id", "zone", "format", "source", "content_type")
    assert(rows(catalog, key: _*) == rows(messages, key: _*))
    assert(messages.select("message_id").distinct().collect().map(_.getString(0)).toSet ==
      Set(adt, oru, adt2, bad).map(sha256))
  }

  test("every catalog path is zone=<zone>/protocol=<protocol> of its lake row") {
    val expected = spark.read.parquet(s"$lake/messages")
      .select(col("message_id"), col("format"),
        concat(lit("zone="), col("zone"), lit("/protocol="), col("protocol")).as("path"))
    assert(rows(spark.read.parquet(s"$lake/catalog"), "message_id", "format", "path") ==
      rows(expected, "message_id", "format", "path"))
  }

  test("retrieve round-trips a message id through the written catalog") {
    val id = sha256(oru)
    val any = Pipeline.retrieve(spark, lake, id).select("msg").collect()
    assert(any.length == 1 && sha256(any.head.getString(0)) == id)
    val er7Row = Pipeline.retrieve(spark, lake, id, Some("er7")).select("msg", "zone").collect()
    assert(er7Row.toSeq == Seq(Row(oru, "ingestion")))
    val staged = Pipeline.retrieve(spark, lake, id, Some("json")).select("zone").collect()
    assert(staged.toSeq == Seq(Row("staging")))
    assert(Pipeline.retrieve(spark, lake, sha256("absent")).collect().isEmpty)
  }

  private def handBuilt(zone: String, protocol: String): DataFrame = {
    import spark.implicits._
    Seq(("MSH|x", "hand", "id-1", protocol, "staged", "json", zone, "application/json"))
      .toDF("msg", "source", "message_id", "protocol", "event", "format", "zone", "content_type")
  }

  test("numeric-looking partition values stay strings in the catalog") {
    val root = newRoot()
    Pipeline.writeLake(handBuilt(zone = "01", protocol = "007"), root)
    val catalog = spark.read.parquet(s"$root/catalog")
    assert(catalog.schema("zone").dataType == StringType)
    assert(rows(catalog, "message_id", "zone", "path") ==
      Seq(Seq("id-1", "01", "zone=01/protocol=007")))
  }

  test("an empty events frame writes an empty catalog") {
    val root = newRoot()
    Pipeline.writeLake(handBuilt("staging", "hl7v2").filter(lit(false)), root)
    assert(spark.read.parquet(s"$root/catalog").count() == 0)
  }

  test("writeLake scans the inbox once and parses only in the lake write") {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val root = newRoot()
    // a write's command node sits under AdaptiveSparkPlanExec when its
    // query has an exchange
    def writesUnderRoot: Seq[SparkPlan] = plans.toArray(Array.empty[SparkPlan]).toSeq.filter(p =>
      find(p) {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString.contains(root)
          case _ => false
        }
        case _ => false
      }.isDefined)
    spark.listenerManager.register(listener)
    try {
      Pipeline.writeLake(Pipeline.allEvents(spark, inbox.toString), root)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (writesUnderRoot.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val writes = writesUnderRoot
    assert(writes.size == 2, s"expected the lake and catalog writes, got ${writes.size}")
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
    def scansInbox(p: SparkPlan): Boolean = nodes(p).exists {
      case f: FileSourceScanExec =>
        f.relation.fileFormat.isInstanceOf[TextFileFormat] &&
          f.relation.location.rootPaths.exists(_.toString.contains(inbox.toString))
      case _ => false
    }
    def parses(p: SparkPlan): Boolean =
      nodes(p).exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])))
    val (scanning, others) = writes.partition(scansInbox)
    assert(scanning.size == 1, s"${scanning.size} of the lake's writes scan the inbox")
    assert(parses(scanning.head), "the lake write no longer parses")
    assert(!others.exists(parses), "a write other than the lake write runs the parse UDF")
  }
}
