package graft.tf

import graft.SparkSpecBase
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path => JPath}

/** The Terraform scan runs in [[Terraform.scanPartitions]] partitions:
  * a corpus of tiny files is parsed and cached one partition per core,
  * not in one open-cost split per few files. */
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
    * sources, one coalesce over their union. */
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

  test("a path predicate still reaches the binaryFile scan under the coalesce") {
    val p = dir.resolve("m007.tf").toString
    val df = Terraform.rows(spark, paths).filter(col("path") === p)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.path == p))
    assert(rows.length == Builders.rowsForFile(p, FileKind.Config, Files.readString(JPath.of(p))).size)

    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case c: CoalesceExec => c }.nonEmpty, s"no coalesce:\n$plan")
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.dataFilters.exists(_.references.exists(_.name == "path"))),
      s"path predicate not at the scan:\n$plan")
    // non-matching files are pruned from the listing: never opened, so
    // never parsed; the plan and state scans contribute no file at all
    val read = scans.map(_.metrics("numFiles").value).sum
    val emitted = scans.map(_.metrics("numOutputRows").value).sum
    assert(read == 1 && emitted == 1, s"scans read $read files and emitted $emitted rows")
  }
}
