package graft.tf

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

/** Span elision (SURVEY §4): column pruning reaches the terraform reader,
  * and a scan that reads no span-derived column parses without spans;
  * span consumers keep the full parse, byte-identical. */
class SpanElisionSpec extends SparkSpecBase {

  private val dir = new java.io.File("fixtures").getAbsolutePath
  private def paths = Terraform.Paths(
    configurationFilePaths = Seq(s"$dir/*.tf"),
    planFilePaths = Seq(s"$dir/tfplan.json", s"$dir/tfplan_oneline.json"),
    stateFilePaths = Seq(s"$dir/terraform.tfstate"))

  // uncached rows: pruning reaches the live scan (a cached Dataset has
  // already materialized every column)
  private def resource = Terraform.resource(Terraform.rows(spark, paths))

  private val spanFields = Set("startLine", "endLine", "source", "validation")

  /** Column names the plan's terraform scan reads. */
  private def readColumns(df: DataFrame): Set[String] = {
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.readSchema().fieldNames.toSet
    }
    assert(scans.size == 1, s"want one terraform scan:\n${df.queryExecution.optimizedPlan}")
    scans.head
  }

  test("spanless projection drops every span column from the scan's readSchema") {
    val pruned = readColumns(resource.select("name", "type"))
    assert(pruned.nonEmpty && (pruned & spanFields).isEmpty, s"scan reads $pruned")

    val spanful = readColumns(resource.select("name", "type", "start_line", "source"))
    assert(Set("startLine", "source").subsetOf(spanful), s"scan reads $spanful")
  }

  test("elided plan returns identical non-span values; spans stay real when selected") {
    val spanful = resource.select("name", "type", "start_line")
    val pruned = resource.select("name", "type")
    assert(pruned.collect().map(_.toString).sorted.toSeq ==
      spanful.drop("start_line").collect().map(_.toString).sorted.toSeq)
    assert(spanful.filter(col("start_line").isNotNull).count() > 0)
  }

  test("validation is span-derived: selecting it keeps the full parse") {
    // validation is regex-extracted from the block SOURCE — a query that
    // selects validation (but no explicit span column) must NOT elide
    val variable = Terraform.variable(Terraform.rows(spark, paths))
    val q = variable.select("name", "validation")
    assert(readColumns(q).contains("validation"))
    assert(q.filter(col("validation").isNotNull).count() > 0,
      "fixture variable's validation block must survive")
  }

  test("whole-row consumers (typed Dataset ops) never see elided spans") {
    // a typed map consumes the full TfRow: the scan must read every column
    import spark.implicits._
    val ds = Terraform.rows(spark, paths)
    val spans = ds.map(r => r.startLine.getOrElse(-1L)).collect()
    assert(spans.exists(_ > 0), "typed access must still see real spans")
  }

  test("DSv2 reader elides spans under column pruning but keeps them when selected") {
    def v2(table: String) = spark.read.format("terraform")
      .option("table", table)
      .option("configurationFilePaths", s"$dir/*.tf").load()
    assert(v2("terraform_resource").select("name").collect().nonEmpty)
    assert(v2("terraform_resource").select("name", "start_line")
      .filter(col("start_line").isNotNull).count() > 0)
    // validation comes from the block source: selecting it without any
    // span column must still parse with spans
    def withValidation(df: DataFrame) =
      df.collect().count(r => !r.isNullAt(r.fieldIndex("validation")))
    val all = withValidation(v2("terraform_variable"))
    val pruned = withValidation(v2("terraform_variable").select("name", "validation"))
    assert(all > 0 && pruned == all, s"validation: $pruned of $all under pruning")
  }
}
