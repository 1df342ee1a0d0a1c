package graft.tf

import graft.SparkSpecBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.{Files, Path => JPath}

/** How [[Terraform.register]] and [[Terraform.refresh]] publish the views:
  * each view is a projection of its own table's stored rows, installed in
  * the session catalog without a view command, and read in tasks sized by
  * its row bytes. */
class PublishSpec extends SparkSpecBase {

  private val fixtures = new java.io.File("fixtures").getAbsolutePath

  private val views = Seq(
    "terraform_resource" -> "resource", "terraform_data_source" -> "data_source",
    "terraform_local" -> "local", "terraform_module" -> "module", "terraform_output" -> "output",
    "terraform_provider" -> "provider", "terraform_variable" -> "variable",
    "terraform_diagnostics" -> "_error")

  private def builder(view: String): org.apache.spark.sql.Dataset[_] => DataFrame = view match {
    case "terraform_resource" => Terraform.resource
    case "terraform_data_source" => Terraform.dataSource
    case "terraform_local" => Terraform.local
    case "terraform_module" => Terraform.module
    case "terraform_output" => Terraform.output
    case "terraform_provider" => Terraform.provider
    case "terraform_variable" => Terraform.variable
    case "terraform_diagnostics" => Terraform.diagnostics
  }

  /** `n` config files with a bucket each and a variable in every tenth,
    * one malformed file, the fixture plan and state: rows of all eight
    * views. */
  private def corpus(name: String, n: Int): (JPath, Terraform.Paths) = {
    val d = Files.createTempDirectory(name)
    (0 until n).foreach { i =>
      Files.writeString(d.resolve(f"f$i%03d.tf"),
        s"""resource "aws_s3_bucket" "b$i" { bucket = "b-$i" }\n""" +
          (if (i % 10 == 0) s"""variable "v$i" { default = $i }\n""" else ""))
    }
    Files.writeString(d.resolve("broken.tf"), "resource \"aws_s3_bucket\" \"broken\" {\n")
    Files.copy(JPath.of(s"$fixtures/main.tf"), d.resolve("main.tf"))
    Files.copy(JPath.of(s"$fixtures/tfplan.json"), d.resolve("a.tfplan.json"))
    Files.copy(JPath.of(s"$fixtures/terraform.tfstate"), d.resolve("s0.tfstate"))
    Files.list(d).forEach(f => Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000)))
    (d, Terraform.Paths(configurationFilePaths = Seq(s"$d/*.tf"),
      planFilePaths = Seq(s"$d/*.tfplan.json"), stateFilePaths = Seq(s"$d/*.tfstate")))
  }

  private def leaveOnFixtures(): Unit =
    Terraform.register(spark, Terraform.Paths(configurationFilePaths = Seq(s"$fixtures/*.tf")))

  /** The events `body` posts to the listener bus, once the bus has
    * delivered every one of them. */
  private def posted[A](body: => A): (A, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val events = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    org.apache.spark.GraftListenerBus.drain(sc)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = events.add(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = events.add(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.GraftListenerBus.drain(sc)
      (a, events.toArray.toSeq.map(_.asInstanceOf[SparkListenerEvent]))
    } finally sc.removeSparkListener(listener)
  }

  test("a refresh that changes files starts no SQL execution") {
    val (d, p) = corpus("publish-nosql", 12)
    Terraform.register(spark, p)
    Files.writeString(d.resolve("f001.tf"), "resource \"aws_s3_bucket\" \"renamed\" {}\n")
    Files.delete(d.resolve("f002.tf"))
    val (_, events) = posted(Terraform.refresh(spark))
    val executions = events.collect { case e: SparkListenerSQLExecutionStart => e.description }
    assert(executions.isEmpty, s"the refresh started SQL executions: $executions")
    val names = spark.table("terraform_resource").select("name").collect().map(_.getString(0)).toSet
    assert(names("renamed") && !names("b1") && !names("b2"), names.toString)
    leaveOnFixtures()
  }

  /** Each view: no filter on `table` in its plan, its rows equal the
    * public builder over a parse of the corpus, and a `noop` write of it
    * runs `min(stored partitions, ceil(row bytes / maxPartitionBytes))`
    * tasks; returns the task counts. */
  private def checkViews(p: Terraform.Paths, clue: String): Map[String, Int] = {
    val registered = Terraform.refresh(spark)
    val stored = Terraform.blocks(registered).get
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    val at = registered.schema.fieldIndex("table")
    val bytes = stored.flatMap(_.rows.iterator).map(r => r.getUTF8String(at).toString -> r.getSizeInBytes.toLong)
      .reduceByKey(_ + _).collect().toMap
    val parsed = Terraform.rows(spark, p)
    views.map { case (view, table) =>
      val df = spark.table(view)
      val filters = df.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.references.exists(_.name == "table") => f
      }
      assert(filters.isEmpty, s"$clue: $view filters on table:\n${df.queryExecution.optimizedPlan}")

      def byPath(d: DataFrame) = d.collect().toSeq.groupBy(r => r.getAs[String]("path"))
        .map { case (k, rs) => k -> rs.map(_.toString).sorted }
      val (got, want) = (byPath(df), byPath(builder(view)(parsed)))
      assert(got == want, s"$clue: $view rows differ from the builder's")

      val group = s"publish-$view"
      spark.sparkContext.setJobGroup(group, view)
      val (_, events) = try posted(df.write.format("noop").mode("overwrite").save())
        finally spark.sparkContext.clearJobGroup()
      val stages = events.collect {
        case s: SparkListenerStageSubmitted if s.properties.getProperty("spark.jobGroup.id") == group => s.stageInfo.stageId
      }.toSet
      val tasks = events.count { case t: SparkListenerTaskEnd => stages(t.stageId); case _ => false }
      val b = bytes.getOrElse(table, 0L)
      val expected = math.max(1L, math.min(stored.getNumPartitions.toLong, (b + split - 1) / split)).toInt
      assert(tasks == expected, s"$clue: $view ran $tasks tasks for $b bytes in " +
        s"${stored.getNumPartitions} stored partitions, want $expected")
      view -> tasks
    }.toMap
  }

  test("each view reads only its own rows, in byte-sized tasks") {
    val (d, p) = corpus("publish-slices", 60)
    Terraform.register(spark, p)
    val small = checkViews(p, "small corpus")
    assert(small.values.forall(_ == 1), s"a small corpus takes one task per view: $small")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try {
      // the split size is read when the views are published
      Files.writeString(d.resolve("f100.tf"), "resource \"aws_s3_bucket\" \"late\" {}\n")
      val split = checkViews(p, "4 KB splits")
      assert(split("terraform_resource") > 1, s"4 KB splits: $split")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    leaveOnFixtures()
  }
}
