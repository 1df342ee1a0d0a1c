package graft.sources

import graft.SparkSpecBase
import graft.tf.Terraform
import org.apache.spark.sql.AnalysisException

/** The TableCatalog path must make every published table resolvable as
  * `terraform.<table>` with NO registration call — the "installed plugin"
  * ergonomics of the reference — and stay indistinguishable from the
  * registered views.
  */
class TerraformCatalogSpec extends SparkSpecBase {

  private val dir = new java.io.File("fixtures").getAbsolutePath

  private lazy val catalog: Unit = {
    spark.conf.set("spark.sql.catalog.terraform", classOf[TerraformCatalog].getName)
    spark.conf.set("spark.sql.catalog.terraform.configurationFilePaths", s"$dir/*.tf")
    spark.conf.set("spark.sql.catalog.terraform.planFilePaths", s"$dir/tfplan.json")
    spark.conf.set("spark.sql.catalog.terraform.stateFilePaths", s"$dir/terraform.tfstate")
    ()
  }

  test("terraform.<table> resolves with no registration and matches the views") {
    catalog
    Terraform.register(spark, Terraform.Paths(
      configurationFilePaths = Seq(s"$dir/*.tf"),
      planFilePaths = Seq(s"$dir/tfplan.json"),
      stateFilePaths = Seq(s"$dir/terraform.tfstate")))
    for (t <- Seq("terraform_resource", "terraform_variable", "terraform_output",
        "terraform_provider", "terraform_local")) {
      val viaCatalog = spark.sql(s"SELECT * FROM terraform.$t").collect().map(_.toString).sorted
      val viaViews = spark.table(t).collect().map(_.toString).sorted
      assert(viaCatalog.toSeq == viaViews.toSeq, s"$t differs between catalog and views")
    }
  }

  test("doc queries run through the catalog path (DocQueriesSpec twins)") {
    catalog
    // terraform_resource.md basic/type-filter examples, catalog-qualified
    assert(spark.sql(
      "select name, type, address from terraform.terraform_resource").count() == 9)
    assert(spark.sql(
      "select name from terraform.terraform_resource where type = 'aws_instance'").count() == 6)
    // the pushed path qual prunes files through the catalog path too
    val one = spark.sql(s"select name from terraform.terraform_resource " +
      s"where path = '$dir/tfplan.json'")
    assert(one.count() == 3)
    assert(one.rdd.getNumPartitions == 1, "path qual must prune partitions via catalog")
  }

  test("streaming through the catalog: readStream.table(terraform.<name>)") {
    catalog
    val ckpt = java.nio.file.Files.createTempDirectory("cat-stream-ckpt").toString
    val q = spark.readStream.table("terraform.terraform_variable")
      .select("name")
      .writeStream.format("memory").queryName("cat_watch")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // the fixture corpus's one variable arrives through the watch path
      assert(spark.table("cat_watch").collect().map(_.getString(0)).toSeq ==
        Seq("instance_type"))
    } finally q.stop()
  }

  test("per-read options override the catalog's table properties") {
    catalog
    val tmp = java.nio.file.Files.createTempDirectory("cat-override")
    java.nio.file.Files.writeString(tmp.resolve("other.tf"),
      "resource \"aws_s3_bucket\" \"overridden\" {}\n")
    // spark.read.option(…).table(…) must read the corpus the user just
    // asked for, not silently fall back to the catalog-configured one
    val names = spark.read
      .option("configurationFilePaths", s"$tmp/*.tf")
      .option("planFilePaths", "").option("stateFilePaths", "")
      .table("terraform.terraform_resource")
      .select("name").collect().map(_.getString(0)).toSeq
    assert(names == Seq("overridden"), s"got $names")
    // key case must not matter: a case-variant option key still overrides
    // the (lowercased) catalog property instead of colliding with it
    val upper = spark.read
      .option("CONFIGURATIONFILEPATHS", s"$tmp/*.tf")
      .option("planFilePaths", "").option("stateFilePaths", "")
      .table("terraform.terraform_resource")
      .select("name").collect().map(_.getString(0)).toSeq
    assert(upper == Seq("overridden"), s"case-variant key dropped: got $upper")
  }

  test("SHOW TABLES lists the published surface; unknown table fails; read-only") {
    catalog
    val listed = spark.sql("SHOW TABLES IN terraform").collect()
      .map(_.getString(1)).sorted.toSeq
    // spelled out: an internal table (the rows superset) must not leak
    assert(listed == Seq("terraform_data_source", "terraform_diagnostics",
      "terraform_local", "terraform_module", "terraform_output",
      "terraform_provider", "terraform_resource", "terraform_variable"))
    intercept[AnalysisException](spark.sql("select * from terraform.terraform_nope").collect())
    intercept[Exception](spark.sql("DROP TABLE terraform.terraform_resource"))
  }
}
