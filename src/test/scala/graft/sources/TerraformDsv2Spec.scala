package graft.sources

import graft.SparkSpecBase
import graft.tf.Terraform
import org.apache.spark.sql.functions._

/** The DataSource V2 packaging must be indistinguishable from the
  * registered temp views: same columns, same types, same rows — plus the
  * DSv2-native behaviors (planning-time path pruning, column pruning). */
class TerraformDsv2Spec extends SparkSpecBase {

  private val dir = new java.io.File("fixtures").getAbsolutePath

  private def v2(table: String) =
    spark.read.format("terraform")
      .option("table", table)
      .option("configurationFilePaths", s"$dir/*.tf")
      .option("planFilePaths", s"$dir/tfplan.json,$dir/tfplan_oneline.json")
      .option("stateFilePaths", s"$dir/terraform.tfstate")
      .load()

  private lazy val views: Unit = {
    Terraform.register(spark, Terraform.Paths(
      configurationFilePaths = Seq(s"$dir/*.tf"),
      planFilePaths = Seq(s"$dir/tfplan.json", s"$dir/tfplan_oneline.json"),
      stateFilePaths = Seq(s"$dir/terraform.tfstate")))
    ()
  }

  private val allTables = Seq("terraform_resource", "terraform_data_source",
    "terraform_local", "terraform_module", "terraform_output",
    "terraform_provider", "terraform_variable", "terraform_diagnostics")

  test("spark.read.format(terraform) matches the registered views, all tables") {
    views
    allTables.foreach { t =>
      val a = v2(t)
      val b = spark.table(t)
      assert(a.columns.toSeq == b.columns.toSeq, s"$t columns")
      assert(a.schema.map(f => (f.name, f.dataType)) ==
        b.schema.map(f => (f.name, f.dataType)), s"$t types")
      val as = a.collect().map(_.toString).sorted.toSeq
      val bs = b.collect().map(_.toString).sorted.toSeq
      assert(as == bs, s"$t rows differ")
    }
  }

  test("path = qual prunes input partitions at planning time (A2)") {
    val all = v2("terraform_resource")
    val one = all.filter(col("path") === s"$dir/main.tf")
    assert(all.rdd.getNumPartitions > 1, "fixture corpus spans several files")
    assert(one.rdd.getNumPartitions == 1,
      "pushed path qual must prune the file list before any file is opened")
    assert(one.count() > 0)
    // a non-matching path is an empty result, not an error
    assert(all.filter(col("path") === "/no/such.tf").count() == 0)
  }

  test("column pruning reaches the reader") {
    val df = v2("terraform_variable").select("name", "sensitive")
    val leaf = df.queryExecution.executedPlan.collectLeaves().head
    assert(leaf.output.map(_.name) == Seq("name", "sensitive"),
      s"scan must project only required columns, got ${leaf.output.map(_.name)}")
    assert(df.collect().nonEmpty)
  }

  test("positional load paths are configuration sources (single and multi)") {
    val one = spark.read.format("terraform").load(s"$dir/*.tf")
    assert(one.count() > 0)
    // multi-path load() arrives as a JSON array option
    val dir2 = java.nio.file.Files.createTempDirectory("dsv2-multi").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir2, "extra.tf"),
      "resource \"aws_sqs_queue\" \"q\" {}\n")
    val multi = spark.read.format("terraform").load(s"$dir/*.tf", s"$dir2/*.tf")
    assert(multi.count() == one.count() + 1)
    assert(multi.filter(col("type") === "aws_sqs_queue").count() == 1)
  }

  test("legacy `paths` option: comma-separated sources route as configuration") {
    // the reference's deprecated `paths` connection argument
    // (connection_config.go:9), set explicitly as a DSv2 option
    val tmp = java.nio.file.Files.createTempDirectory("dsv2-legacy")
    java.nio.file.Files.writeString(tmp.resolve("a.tf"),
      "resource \"aws_s3_bucket\" \"la\" {}\n")
    java.nio.file.Files.writeString(tmp.resolve("b.tf"),
      "resource \"aws_s3_bucket\" \"lb\" {}\n")
    val df = spark.read.format("terraform")
      .option("paths", s"$tmp/a.tf, $tmp/b.tf")
      .load()
    assert(df.select("name").collect().map(_.getString(0)).sorted.toSeq == Seq("la", "lb"))
  }

  test("small-file packing: M tiny files land in few partitions, rows intact") {
    val tmp = java.nio.file.Files.createTempDirectory("dsv2-pack")
    val m = 200
    (0 until m).foreach { i =>
      java.nio.file.Files.writeString(tmp.resolve(f"r$i%03d.tf"),
        s"""resource "aws_s3_bucket" "b$i" { bucket = "b-$i" }\n""")
    }
    val df = spark.read.format("terraform").load(s"$tmp/*.tf")
    val parts = df.rdd.getNumPartitions
    // 200 files of a few bytes → one bin per core (Terraform.scanPartitions):
    // far fewer tasks than files, but still parallel
    assert(parts <= 64, s"$m tiny files should pack into ≤ 64 partitions, got $parts")
    assert(parts > 1, "packing must not collapse a parallel read to one task")
    // row parity: every file's resource present exactly once
    assert(df.count() == m)
    assert(df.select("name").distinct().count() == m)

    // pure packing policy: bins are min(files, max(cores, bytes / split)),
    // and a file larger than an even share gets a bin of its own
    val files = (0 until 10).map(i => (s"/f$i", "config", 10L))
    val packed = TerraformTableProvider.packPartitions(files,
      maxPartitionBytes = 1L << 30, openCostInBytes = 100L, minPartitions = 2)
    assert(packed.length == 2, s"10 equal files over 2 cores → 2 bins, got ${packed.length}")
    val huge = TerraformTableProvider.packPartitions(
      Seq(("/big", "config", 1L << 40), ("/small", "config", 1L)),
      maxPartitionBytes = 128L << 20, openCostInBytes = 4L << 20, minPartitions = 32)
    assert(huge.length == 2, "an over-budget file still gets its own bin")
  }

  test("readStream.format(terraform): new and changed files arrive incrementally") {
    val tmp = java.nio.file.Files.createTempDirectory("dsv2-stream")
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2-stream-ckpt").toString
    // Write OUTSIDE the watched glob (`.tmp` doesn't match `*.tf`), rewind
    // the mtime, then atomically rename in: the live continuous-trigger
    // stream can never observe the fresh-mtime intermediate state.
    def writeTf(name: String, resource: String, modMs: Long): Unit = {
      val staged = tmp.resolve(name + ".tmp")
      java.nio.file.Files.writeString(staged,
        s"""resource "aws_s3_bucket" "$resource" {}\n""")
      assert(staged.toFile.setLastModified(modMs))
      java.nio.file.Files.move(staged, tmp.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    writeTf("a.tf", "stream_a", 1000000L)

    val df = spark.readStream.format("terraform")
      .option("table", "terraform_resource")
      .option("configurationFilePaths", s"$tmp/*.tf")
      .load()
    val q = df.select("name").writeStream.format("memory").queryName("tf_watch")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      def names = spark.table("tf_watch").collect().map(_.getString(0)).sorted.toSeq
      assert(names == Seq("stream_a"))

      // a NEW file with a later mod time arrives in the next micro-batch
      writeTf("b.tf", "stream_b", 2000000L)
      q.processAllAvailable()
      assert(names == Seq("stream_a", "stream_b"))

      // an UPDATED file re-emits its rows (the reference's watch re-query)
      writeTf("a.tf", "stream_a2", 3000000L)
      q.processAllAvailable()
      assert(names == Seq("stream_a", "stream_a2", "stream_b"))

      // quiescent: no new offsets, no duplicate rows
      q.processAllAvailable()
      assert(names == Seq("stream_a", "stream_a2", "stream_b"))
    } finally q.stop()
  }

  test("stream offset: epoch-0 files arrive; deletions never regress the watermark") {
    val tmp = java.nio.file.Files.createTempDirectory("dsv2-stream-edge")
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2-stream-edge-ckpt").toString
    // Same staged-write + ATOMIC_MOVE pattern as the previous test: the
    // stream must never see the file with its pre-rewind fresh mtime.
    def writeTf(name: String, resource: String, modMs: Long): java.nio.file.Path = {
      val staged = tmp.resolve(name + ".tmp")
      java.nio.file.Files.writeString(staged,
        s"""resource "aws_s3_bucket" "$resource" {}\n""")
      assert(staged.toFile.setLastModified(modMs))
      val f = tmp.resolve(name)
      java.nio.file.Files.move(staged, f,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      f
    }
    // an epoch-0 mtime (tar extraction with zeroed timestamps) must still
    // be picked up by the initial replay batch
    val zero = writeTf("zero.tf", "epoch_zero", 0L)
    val late = writeTf("late.tf", "late", 5000000L)

    val q = spark.readStream.format("terraform")
      .option("table", "terraform_resource")
      .option("configurationFilePaths", s"$tmp/*.tf")
      .load()
      .select("name")
      .writeStream.format("memory").queryName("tf_watch_edge")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      def names = spark.table("tf_watch_edge").collect().map(_.getString(0)).sorted.toSeq
      assert(names == Seq("epoch_zero", "late"))

      // delete everything: the watermark must NOT regress to "empty"
      java.nio.file.Files.delete(zero)
      java.nio.file.Files.delete(late)
      q.processAllAvailable()
      assert(names == Seq("epoch_zero", "late"))

      // a file REAPPEARING with an mtime below the committed watermark is
      // already-processed content — no duplicate rows
      writeTf("late.tf", "late", 3000000L)
      q.processAllAvailable()
      assert(names == Seq("epoch_zero", "late"), "regressed watermark re-emitted rows")

      // touched beyond the watermark → re-emits (the watch re-query)
      writeTf("late.tf", "late2", 6000000L)
      q.processAllAvailable()
      assert(names == Seq("epoch_zero", "late", "late2"))
    } finally q.stop()
  }

  test("unknown table name fails fast") {
    val e = intercept[IllegalArgumentException](
      spark.read.format("terraform").option("table", "terraform_nope").load())
    assert(e.getMessage.contains("terraform_nope"))
  }

  test("exact path qual stats its candidate — zero LIST rounds on the store") {
    val tmp = java.nio.file.Files.createTempDirectory("dsv2-exact")
    (0 until 5).foreach { i =>
      java.nio.file.Files.writeString(tmp.resolve(s"f$i.tf"),
        s"""resource "aws_s3_bucket" "x$i" {}\n""")
    }
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3a.impl", classOf[graft.tf.MockS3FileSystem].getName)
    val df = spark.read.format("terraform")
      .option("configurationFilePaths", s"s3a://bucket$tmp/*.tf")
      .load()
      .filter(col("path") === s"s3a://bucket$tmp/f3.tf")
      .select("name")
    graft.tf.MockS3FileSystem.resetCounters()
    assert(df.collect().map(_.getString(0)).toSeq == Seq("x3"))
    assert(graft.tf.MockS3FileSystem.listStatusCalls.get == 0,
      "an exact pushed path must getFileStatus the one candidate, not LIST the corpus")
  }

  test("relative-glob corpora still answer exact path quals (listing fallback)") {
    // 'fixtures/*.tf' lists back as absolute paths, so a pattern mismatch
    // against the relative spelling proves nothing — the qual must fall
    // back to list-and-filter, not silently return zero rows
    val rows = spark.read.format("terraform")
      .option("configurationFilePaths", "fixtures/*.tf")
      .load()
      .filter(col("path") === s"$dir/main.tf")
    assert(rows.count() > 0, "relative glob + exact path qual lost the file")
  }

  test("missing file at read time: ignoreMissingFiles skips + surfaces diagnostics") {
    val tmp = java.nio.file.Files.createTempDirectory("dsv2-missing")
    val f = tmp.resolve("gone.tf")
    java.nio.file.Files.writeString(f, "resource \"aws_s3_bucket\" \"g\" {}\n")
    val sc = spark.sparkContext
    def reader(table: String, ignore: Boolean) =
      new TerraformReaderFactory(table, TerraformTableProvider.schemaFor(table),
        sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration)), ignore)
        .createReader(TfFilePartition(Seq((f.toString, graft.tf.FileKind.Config))))
    java.nio.file.Files.delete(f)
    // honored: the resource scan just skips the vanished file…
    assert(!reader("terraform_resource", ignore = true).next())
    // …and the diagnostics table explains the skip
    val diag = reader("terraform_diagnostics", ignore = true)
    assert(diag.next())
    val row = diag.get()
    assert(row.getString(0) == f.toString && row.getString(1).startsWith("missing:"))
    // not honored (the default): the read fails like the file sources do
    intercept[java.io.FileNotFoundException](reader("terraform_resource", ignore = false).next())
  }
}
