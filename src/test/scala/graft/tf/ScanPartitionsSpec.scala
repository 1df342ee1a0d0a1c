package graft.tf

import graft.SparkSpecBase
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path => JPath}

/** [[Terraform.rows]] is one terraform-reader scan: a corpus of tiny files
  * is parsed and cached in [[Terraform.scanPartitions]] partitions, one per
  * core, not in one open-cost split per few files; the scan takes a pushed
  * `path =` qual, reports its size to the planner and reads brace globs. */
class ScanPartitionsSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private val fixtures = new java.io.File("fixtures").getAbsolutePath

  private lazy val dir: JPath = {
    val d = Files.createTempDirectory("graft-scan-partitions")
    (0 until 200).foreach { i =>
      Files.writeString(d.resolve(f"m$i%03d.tf"),
        s"""resource "aws_s3_bucket" "b$i" { bucket = "b-$i" }\n""" +
          (if (i % 10 == 0) s"""variable "v$i" { default = $i }\n""" else ""))
    }
    d
  }

  /** ~200 tiny config files plus one plan and one state file: three
    * sources, packed into one scan's bins. */
  private def paths = Terraform.Paths(
    configurationFilePaths = Seq(s"$dir/*.tf"),
    planFilePaths = Seq(s"$fixtures/tfplan.json"),
    stateFilePaths = Seq(s"$fixtures/terraform.tfstate"))

  private def files: Seq[(String, String)] =
    (0 until 200).map(i => dir.resolve(f"m$i%03d.tf").toString -> FileKind.Config) ++
      Seq(s"$fixtures/tfplan.json" -> FileKind.Plan, s"$fixtures/terraform.tfstate" -> FileKind.State)

  test("register caches the corpus in scanPartitions partitions, one per core here") {
    val bytes = files.map(f => new java.io.File(f._1).length).sum
    val n = Terraform.scanPartitions(files.size, bytes,
      spark.sessionState.conf.filesMaxPartitionBytes, spark.sparkContext.defaultParallelism)
    assert(n == spark.sparkContext.defaultParallelism && n <= 4, s"n = $n")

    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val r = Terraform.register(spark, paths)
    r.write.format("noop").mode("overwrite").save()
    val cached = spark.sparkContext.getRDDStorageInfo.filter(i => i.isCached && !before(i.id))
    assert(cached.length == 1, s"one cached parse, got ${cached.map(_.name).toSeq}")
    assert(cached.head.numPartitions == n && cached.head.numCachedPartitions == n,
      s"cached ${cached.head.numCachedPartitions} of ${cached.head.numPartitions} partitions, want $n")
    // leave the shared session on the fixtures, like the other tf specs
    Terraform.register(spark, Terraform.Paths(configurationFilePaths = Seq(s"$fixtures/*.tf")))
  }

  test("coalesced rows equal Builders.rowsForFile, per table and per path") {
    def byKey(rows: Seq[TfRow]): Map[(String, String), Seq[String]] =
      rows.groupBy(r => (r.table, r.path)).map { case (k, rs) => k -> rs.map(_.toString).sorted }
    val got = byKey(Terraform.rows(spark, paths).collect().toSeq)
    val want = byKey(files.flatMap { case (p, kind) =>
      Builders.rowsForFile(p, kind, Files.readString(JPath.of(p)))
    })
    assert(got.keySet == want.keySet,
      s"(table, path) keys differ: ${(got.keySet diff want.keySet) ++ (want.keySet diff got.keySet)}")
    want.foreach { case (k, rs) => assert(got(k) == rs, s"rows differ for $k") }
  }

  test("a path predicate reaches the terraform scan, which plans one file") {
    val p = dir.resolve("m007.tf").toString
    val df = Terraform.rows(spark, paths).filter(col("path") === p)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.path == p))
    assert(rows.length == Builders.rowsForFile(p, FileKind.Config, Files.readString(JPath.of(p))).size)

    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case b: BatchScanExec => b }
    assert(scans.size == 1 && scans.head.scan.description().contains(s"pushedPath=$p"),
      s"path predicate not pushed to the scan:\n$plan")
    // non-matching files are dropped at planning: never opened, so never
    // parsed; the plan and state sources contribute no file at all
    val planned = plannedFiles(scans.head)
    assert(planned == Seq(p), s"scan planned $planned")
  }

  test("the planner's size estimate is the matched bytes, so small joins broadcast") {
    val bytes = files.map(f => new java.io.File(f._1).length).sum
    val viaReader = spark.read.format("terraform").option("table", "terraform_resource")
      .option("configurationFilePaths", s"$dir/*.tf")
      .option("planFilePaths", s"$fixtures/tfplan.json")
      .option("stateFilePaths", s"$fixtures/terraform.tfstate").load()
    Seq(Terraform.rows(spark, paths).toDF(), viaReader).foreach { df =>
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(est > 0 && est <= bytes, s"estimate $est for $bytes corpus bytes")
    }
    val r = Terraform.rows(spark, paths)
    val join = Terraform.resource(r).join(Terraform.variable(r), "path")
    assert(collect(join.queryExecution.sparkPlan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"uncached terraform join did not broadcast:\n${join.queryExecution.sparkPlan}")
  }

  test("a brace glob reads through rows() and the terraform reader alike") {
    val glob = s"$fixtures/{main,second}.tf"
    val want = Seq(s"$fixtures/main.tf", s"$fixtures/second.tf").flatMap(p =>
      Builders.rowsForFile(p, FileKind.Config, Files.readString(JPath.of(p))))
    val viaRows = Terraform.rows(spark, Terraform.Paths(configurationFilePaths = Seq(glob)))
    assert(viaRows.collect().map(_.toString).sorted.toSeq == want.map(_.toString).sorted)

    val viaReader = spark.read.format("terraform").option("table", "terraform_resource")
      .option("configurationFilePaths", graft.tf.JArr(Vector(graft.tf.JStr(glob))).render).load()
    assert(viaReader.collect().map(_.toString).sorted.toSeq ==
      Terraform.resource(viaRows).collect().map(_.toString).sorted.toSeq)
    assert(viaReader.count() == want.count(_.table == "resource") && viaReader.count() > 0)
  }

  test("rows: a file missing at read time fails the read, or is a diagnostics row under ignoreMissingFiles") {
    val tmp = Files.createTempDirectory("rows-missing")
    val f = tmp.resolve("gone.tf")
    Files.writeString(f, "resource \"aws_s3_bucket\" \"g\" {}\n")
    val p = Terraform.Paths(configurationFilePaths = Seq(s"$tmp/*.tf"))
    // plan both reads while the file exists, so discovery lists it; the
    // scan takes ignoreMissingFiles when it is planned
    def planned() = {
      val ds = Terraform.rows(spark, p)
      assert(collect(ds.queryExecution.executedPlan) { case b: BatchScanExec => plannedFiles(b) }
        .flatten == Seq(f.toString))
      ds
    }
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    val honored = try planned() finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")
    val strict = planned()
    Files.delete(f)
    val rows = honored.collect()
    assert(rows.map(r => (r.table, r.path)).toSeq == Seq(("_error", f.toString)))
    assert(rows.head.description.exists(_.startsWith("missing:")), rows.head.toString)
    // not honored (the default): the read fails like Spark's file sources
    val e = intercept[Exception](strict.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), e.toString)
  }

  /** Files in the scan's input partitions: the connector's partition is a
    * case class whose first field lists its (path, kind) files. */
  private def plannedFiles(scan: BatchScanExec): Seq[String] =
    scan.inputPartitions.toSeq.flatMap {
      case pr: Product => pr.productElement(0).asInstanceOf[Seq[(String, String)]]
        .map(f => Terraform.stripScheme(f._1))
    }
}
