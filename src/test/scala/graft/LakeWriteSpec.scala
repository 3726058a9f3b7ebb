package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.hl7.Pipeline
import graft.streaming.StreamingPipeline

/** `Pipeline.writeLake` over a small self-made inbox: the catalog is exactly
  * a projection of the written lake, and the inbox is scanned and parsed
  * once per lake write. `Pipeline.retrieve` over that lake and over a
  * streaming-written one: a hit reads one partition directory, and hits and
  * misses have the same columns. */
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

  /** The inbox drained through `StreamingPipeline.run`: staged and error
    * rows only, and no `segments` column. */
  private lazy val streamLake: String = {
    val root = newRoot()
    StreamingPipeline.run(spark, inbox.toString, root, s"$root/_ckpt")
    root
  }

  /** The hit's catalog row, as `retrieve` resolves it. */
  private def catalogHit(root: String, id: String, format: String): Row =
    spark.read.parquet(s"$root/catalog")
      .filter(col("message_id") === id && col("format") === format)
      .select("path", "ingest_ts").collect().head

  test("a hit's plan scans only the hit's zone/protocol directory") {
    val id = sha256(oru)
    val df = Pipeline.retrieve(spark, lake, id, Some("json"))
    assert(df.collect().length == 1)
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected one file scan, got ${scans.size}")
    val dir = s"$lake/messages/zone=staging/protocol=hl7v2"
    val roots = scans.head.relation.location.rootPaths.map(_.toUri.getPath)
    assert(roots == Seq(dir), s"scan roots $roots")
    val files = scans.head.relation.location.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"$dir/")), files.mkString(", "))
  }

  test("retrieve and collect of a hit run at most 3 jobs") {
    val id = sha256(oru)
    val group = s"lake-retrieve-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobs.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "retrieve")
      assert(Pipeline.retrieve(spark, lake, id).collect().length == 1)
      // the bus delivers events in order: once the sentinel job is seen,
      // every job of the lookup has been seen too
      sc.setJobGroup(sentinel, "sentinel")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.contains(sentinel), "listener never saw the sentinel job")
    val n = jobs.toArray.count(_ == group)
    assert(n >= 1 && n <= 3, s"$n jobs for one lookup")
  }

  test("hits and misses return the same columns; a hit carries its catalog row") {
    val id = sha256(adt)
    val hit = Pipeline.retrieve(spark, lake, id, Some("er7"))
    val absent = Pipeline.retrieve(spark, lake, sha256("absent"))
    val wrongFormat = Pipeline.retrieve(spark, lake, id, Some("txt"))
    assert(absent.collect().isEmpty && wrongFormat.collect().isEmpty)
    val names = hit.columns.toSeq
    assert(names.take(2) == Seq("message_id", "format"))
    assert(names.takeRight(2) == Seq("path", "ingest_ts"))
    assert(names.contains("msg") && names.contains("zone") && names.contains("protocol"))
    assert(absent.columns.toSeq == names && wrongFormat.columns.toSeq == names)
    assert(absent.schema.map(_.dataType) == hit.schema.map(_.dataType))
    val got = hit.select("path", "ingest_ts").collect()
    assert(got.toSeq == Seq(catalogHit(lake, id, "er7")))
    assert(got.head.getString(0) == "zone=ingestion/protocol=hl7v2")
  }

  test("retrieve reads a streaming-written lake, which has no segments column") {
    val lakeColumns = spark.read.parquet(s"$streamLake/messages").columns.toSet
    assert(!lakeColumns.contains("segments"))
    val id = sha256(oru)
    val hit = Pipeline.retrieve(spark, streamLake, id)
    assert(hit.columns.toSet == lakeColumns ++ Set("path", "ingest_ts"))
    val got = hit.select("msg", "format", "path", "ingest_ts").collect()
    assert(got.length == 1 && sha256(got.head.getString(0)) == id)
    assert(got.head.getString(1) == "json")
    assert(Row(got.head.get(2), got.head.get(3)) == catalogHit(streamLake, id, "json"))
    assert(Pipeline.retrieve(spark, streamLake, sha256("absent")).collect().isEmpty)
  }

  test("both lake writers write the declared catalog schema, and every path is a directory") {
    def namesAndTypes(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType)
    for (root <- Seq(lake, streamLake)) {
      val catalog = spark.read.parquet(s"$root/catalog")
      assert(namesAndTypes(catalog.schema) == namesAndTypes(Pipeline.CatalogSchema), root)
      val paths = catalog.select("path").distinct().collect().map(_.getString(0))
      assert(paths.nonEmpty)
      for (p <- paths) assert(Files.isDirectory(Path.of(s"$root/messages/$p")), s"$root: $p")
    }
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
