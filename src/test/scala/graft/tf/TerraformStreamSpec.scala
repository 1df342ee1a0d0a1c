package graft.tf

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths => JPaths, StandardCopyOption}

class TerraformStreamSpec extends SparkSpecBase {

  test("file-watch stream (A21): new .tf files are parsed incrementally") {
    val watchDir = Files.createTempDirectory("tfwatch").toFile
    watchDir.deleteOnExit()
    val stream = Terraform.streamRows(spark,
      Terraform.Paths(configurationFilePaths = Seq(s"${watchDir.getAbsolutePath}/*.tf")))
    val q = stream.toDF().writeStream.format("memory")
      .queryName("tf_watch").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tf_watch").count() == 0)

      Files.copy(JPaths.get("fixtures/main.tf"),
        JPaths.get(watchDir.getAbsolutePath, "main.tf"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val n1 = spark.table("tf_watch").filter(col("table") === "resource").count()
      assert(n1 == 3, s"expected 3 config resources, got $n1")

      Files.copy(JPaths.get("fixtures/second.tf"),
        JPaths.get(watchDir.getAbsolutePath, "second.tf"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val mods = spark.table("tf_watch").filter(col("table") === "module").count()
      assert(mods == 3, s"expected 3 modules after second file, got $mods") // vpc + s3_bucket + net
    } finally q.stop()
  }

  test("file-watch stream unions ALL configured globs, not just the first") {
    val dirA = Files.createTempDirectory("tfwatchA").toFile
    val dirB = Files.createTempDirectory("tfwatchB").toFile
    dirA.deleteOnExit(); dirB.deleteOnExit()
    val stream = Terraform.streamRows(spark, Terraform.Paths(
      configurationFilePaths = Seq(s"${dirA.getAbsolutePath}/*.tf", s"${dirB.getAbsolutePath}/*.tf")))
    val q = stream.toDF().writeStream.format("memory")
      .queryName("tf_watch_multi").outputMode("append").start()
    try {
      Files.copy(JPaths.get("fixtures/main.tf"),
        JPaths.get(dirA.getAbsolutePath, "main.tf"), StandardCopyOption.REPLACE_EXISTING)
      Files.copy(JPaths.get("fixtures/second.tf"),
        JPaths.get(dirB.getAbsolutePath, "second.tf"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val t = spark.table("tf_watch_multi")
      // main.tf (dirA) carries resources; second.tf (dirB) carries modules —
      // both must appear, proving the second glob is watched too
      assert(t.filter(col("table") === "resource").count() >= 3, "dirA rows missing")
      assert(t.filter(col("table") === "module").count() >= 1, "dirB rows missing")
    } finally q.stop()
  }

  test("file-watch stream follows the batch source rules: same rows as Terraform.rows and register") {
    val dir = Files.createTempDirectory("tfparity")
    dir.toFile.deleteOnExit()
    Seq("main.tf", "second.tf", "terraform.tfstate", "tfplan.json").foreach { f =>
      Files.copy(JPaths.get("fixtures", f), dir.resolve(f), StandardCopyOption.REPLACE_EXISTING)
    }
    val paths = Terraform.Paths(
      // a bare directory contributes nothing; `*.tf` and `main.*` both
      // match main.tf; a `.tfstate` match is parsed as state whatever
      // list names it
      configurationFilePaths = Seq(dir.toString, s"$dir/*.tf", s"$dir/main.*", s"$dir/*.tfstate"),
      planFilePaths = Seq(s"$dir/tfplan.json"))
    val q = Terraform.streamRows(spark, paths).toDF().writeStream.format("memory")
      .queryName("tf_watch_parity").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    import spark.implicits._
    def byTablePath(rows: Seq[TfRow]): Map[(String, String), Map[TfRow, Int]] =
      rows.groupBy(r => (r.table, r.path)).view
        .mapValues(_.groupBy(identity).view.mapValues(_.size).toMap).toMap
    val streamed = byTablePath(spark.table("tf_watch_parity").as[TfRow].collect().toSeq)
    val batch = byTablePath(Terraform.rows(spark, paths).collect().toSeq)
    assert(batch.keySet.map(_._1).contains("resource") && batch.keySet.exists(_._2.endsWith(".tfstate")))
    val differing = (streamed.keySet ++ batch.keySet).toSeq.sorted
      .filter(k => streamed.get(k) != batch.get(k))
      .map(k => k -> (streamed.get(k).fold(0)(_.values.sum), batch.get(k).fold(0)(_.values.sum)))
    assert(differing.isEmpty, s"(table, path) -> (stream rows, batch rows): $differing")
    assert(byTablePath(Terraform.register(spark, paths).collect().toSeq) == batch)
  }

  test("discovery tolerates missing sources and skips bare directories (A1)") {
    val r = Terraform.rows(spark, Terraform.Paths(
      configurationFilePaths = Seq("/nonexistent/*.tf", "/tmp"), // missing glob + bare dir
      planFilePaths = Seq("/also/missing.json")))
    assert(r.count() == 0)
  }

  test("variant helper views: variant_get over parsed JSON columns") {
    val dir = new java.io.File("fixtures").getAbsolutePath
    Terraform.register(spark, Terraform.Paths(
      configurationFilePaths = Seq(s"$dir/*.tf"),
      planFilePaths = Seq(s"$dir/tfplan.json"),
      stateFilePaths = Seq(s"$dir/terraform.tfstate")))
    Terraform.registerVariantViews(spark)
    val amis = spark.sql(
      """select variant_get(attributes_std, '$.ami', 'string') as ami
        |from terraform_resource_v where type = 'aws_instance'""".stripMargin)
      .collect().map(_.getString(0)).filter(_ != null)
    assert(amis.nonEmpty && amis.forall(_ == "ami-830c94e3"))
    val tag = spark.sql(
      """select variant_get(arguments, '$.tags.Name', 'string') as t
        |from terraform_resource_v where name = 'app_server' and path like '%main.tf'""".stripMargin)
      .collect().head.getString(0)
    assert(tag == "ExampleAppServerInstance")
  }

  test("batch watch-path refresh: edits become visible after Terraform.refresh") {
    // reference: `steampipe:"watch"` tags (connection_config.go:8-11) — the
    // SDK invalidates its cache on file change; refresh is the batch analog
    val dir = Files.createTempDirectory("tfrefresh").toFile
    dir.deleteOnExit()
    Files.copy(JPaths.get("fixtures/main.tf"),
      JPaths.get(dir.getAbsolutePath, "main.tf"), StandardCopyOption.REPLACE_EXISTING)
    Terraform.register(spark, Terraform.Paths(
      configurationFilePaths = Seq(s"${dir.getAbsolutePath}/*.tf")))
    assert(spark.table("terraform_resource").count() == 3)

    // an edit: new resource appended to the watched file
    val f = JPaths.get(dir.getAbsolutePath, "main.tf")
    Files.writeString(f, Files.readString(f) +
      "\nresource \"aws_sqs_queue\" \"edited_in\" {\n  name = \"q\"\n}\n")
    // stale until refreshed (the cached parse is the SDK-cache analog) …
    assert(spark.table("terraform_resource").count() == 3)
    Terraform.refresh(spark)
    // … then the edit is visible through the SAME view names
    assert(spark.table("terraform_resource").count() == 4)
    assert(spark.table("terraform_resource")
      .filter(col("name") === "edited_in").count() == 1)
  }
}
