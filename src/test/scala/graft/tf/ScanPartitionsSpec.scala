package graft.tf

import graft.SparkSpecBase
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path => JPath}

/** [[Terraform.rows]] is one terraform-reader scan: a corpus of tiny files
  * is parsed and cached in [[Terraform.scanPartitions]] partitions, one per
  * core, not in one open-cost split per few files; [[Terraform.refresh]]
  * re-parses only the changed files and keeps that partitioning; the scan
  * takes a pushed `path =` qual, reports its size to the planner and reads
  * brace globs. */
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

  /** Rows as multisets per (table, path). */
  private def byKey(rows: Seq[TfRow]): Map[(String, String), Seq[String]] =
    rows.groupBy(r => (r.table, r.path)).map { case (k, rs) => k -> rs.map(_.toString).sorted }

  private def assertSameRows(got: Seq[TfRow], want: Seq[TfRow], clue: String): Unit = {
    val (g, w) = (byKey(got), byKey(want))
    assert(g.keySet == w.keySet,
      s"$clue: (table, path) keys differ: ${(g.keySet diff w.keySet) ++ (w.keySet diff g.keySet)}")
    w.foreach { case (k, rs) => assert(g(k) == rs, s"$clue: rows differ for $k") }
  }

  test("scanned rows equal Builders.rowsForFile, per table and per path") {
    val got = byKey(Terraform.rows(spark, paths).collect().toSeq)
    val want = byKey(files.flatMap { case (p, kind) =>
      Builders.rowsForFile(p, kind, Files.readString(JPath.of(p)))
    })
    assert(got.keySet == want.keySet,
      s"(table, path) keys differ: ${(got.keySet diff want.keySet) ++ (want.keySet diff got.keySet)}")
    want.foreach { case (k, rs) => assert(got(k) == rs, s"rows differ for $k") }
  }

  // ---- incremental refresh: Terraform.refresh re-parses only what changed

  /** A corpus of `n` one-bucket config files, none of them racy, and the
    * three sources that read it: `*.tf` configs, `*.tfstate` states,
    * `*.tfplan.json` plans. */
  private def corpus(name: String, n: Int): (JPath, Terraform.Paths) = {
    val d = Files.createTempDirectory(name)
    (0 until n).foreach(i => Files.writeString(d.resolve(f"f$i%03d.tf"), bucket(s"b$i")))
    age(d)
    (d, Terraform.Paths(configurationFilePaths = Seq(s"$d/*.tf"),
      planFilePaths = Seq(s"$d/*.tfplan.json"), stateFilePaths = Seq(s"$d/*.tfstate")))
  }

  private def bucket(name: String): String = s"""resource "aws_s3_bucket" "$name" { bucket = "$name" }\n"""

  /** Move every file's mtime well before any listing: no file is racy. */
  private def age(d: JPath): Unit =
    Files.list(d).forEach(f => Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000)))

  private def leaveOnFixtures(): Unit =
    Terraform.register(spark, Terraform.Paths(configurationFilePaths = Seq(s"$fixtures/*.tf")))

  test("refresh after seeded edit batches equals a cold register, per table and per path") {
    val (d, p) = corpus("refresh-batches", 40)
    Files.copy(JPath.of(s"$fixtures/tfplan.json"), d.resolve("a.tfplan.json"))
    Files.copy(JPath.of(s"$fixtures/terraform.tfstate"), d.resolve("s0.tfstate"))
    age(d)
    val state = Files.readString(JPath.of(s"$fixtures/terraform.tfstate"))
    Terraform.register(spark, p)
    def check(clue: String): Unit = {
      val (got, want) = (Terraform.refresh(spark), Terraform.rows(spark, p))
      assertSameRows(got.collect().toSeq, want.collect().toSeq, clue)
      // sized like a parse of the corpus, so small joins over the views broadcast
      assert(got.queryExecution.optimizedPlan.stats.sizeInBytes == want.queryExecution.optimizedPlan.stats.sizeInBytes,
        s"$clue: size estimate")
    }

    val rnd = new scala.util.Random(11)
    var next = 100
    def live = Files.list(d).toArray.map(_.asInstanceOf[JPath])
      .filter(_.getFileName.toString.matches("f\\d+\\.tf")).sortBy(_.toString)
    (1 to 6).foreach { b =>
      // rewrite (a different length), delete and add a few configs
      rnd.shuffle(live.toSeq).take(3).foreach(f => Files.writeString(f, bucket(s"r${b}_$next") + bucket(s"x$next")))
      rnd.shuffle(live.toSeq).take(1).foreach(Files.delete)
      (0 until 2).foreach { _ => Files.writeString(d.resolve(f"f$next%03d.tf"), bucket(s"b$next")); next += 1 }
      check(s"batch $b")
    }
    // a file turns malformed (a diagnostics row), then back
    val m = live.head
    val good = Files.readString(m)
    Files.writeString(m, "resource \"aws_s3_bucket\" \"broken\" {\n")
    check("malformed")
    Files.writeString(m, good)
    check("repaired")
    // state content under a config name, then renamed to .tfstate: the
    // config parse fails, the state parse succeeds
    Files.writeString(d.resolve("moved.tf"), state)
    check("state content as .tf")
    Files.move(d.resolve("moved.tf"), d.resolve("moved.tfstate"))
    check(".tf renamed to .tfstate")
    // a same-length rewrite inside one mtime tick: length and mtime match
    // the previous listing, only the racy-clean rule catches it
    val t = d.resolve("tick.tf")
    Files.writeString(t, bucket("tick1"))
    check("tick written")
    val mtime = Files.getLastModifiedTime(t)
    Files.writeString(t, bucket("tock1"))
    Files.setLastModifiedTime(t, mtime)
    check("same-length rewrite in one mtime tick")
    leaveOnFixtures()
  }

  test("refresh with no change starts no Spark job and returns the same rows") {
    val (_, p) = corpus("refresh-nochange", 20)
    val r = Terraform.register(spark, p)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("refresh-nochange", "refresh")
      val again = try Terraform.refresh(spark) finally sc.clearJobGroup()
      assert(again eq r, "an unchanged corpus must keep the registered rows")
      // listener events arrive in order: once a later marker job's start
      // is seen, every job the refresh started has been seen too
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("marker"))
      assert(!groups.contains("refresh-nochange"), s"refresh ran jobs: $groups")
    } finally sc.removeSparkListener(listener)
    leaveOnFixtures()
  }

  test("20 refreshes keep one materialized relation in balanced scanPartitions partitions") {
    val (d, p) = corpus("refresh-twenty", 400)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a small split size, so the growing corpus needs more partitions as
    // it grows (5 of ~4 KB at the start, 7 after 20 refreshes)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try {
      Terraform.register(spark, p)
      val rnd = new scala.util.Random(5)
      var next = 1000
      def persisted(): Int = {
        // superseded generations go once unreachable: collect, and wait for
        // the collected relations to leave the persistent-RDD map
        var k = Int.MaxValue
        var tries = 0
        while (k > 1 && tries < 50) {
          System.gc(); Thread.sleep(100)
          k = sc.getPersistentRDDs.keySet.count(id => !before(id))
          tries += 1
        }
        k
      }
      val counts = (1 to 20).map { i =>
        val files = Files.list(d).toArray.map(_.asInstanceOf[JPath]).toSeq.sortBy(_.toString)
        val picked = rnd.shuffle(files).take(8)
        picked.take(6).foreach(f => Files.writeString(f, bucket(s"e$next") + bucket(s"g$next")))
        picked.drop(6).foreach(Files.delete)
        (0 until 4).foreach { _ => Files.writeString(d.resolve(s"n$next.tf"), bucket(s"n$next")); next += 1 }
        val r = Terraform.refresh(spark)
        val live = Files.list(d).toArray.map(_.asInstanceOf[JPath])
        val n = Terraform.scanPartitions(live.length, live.map(Files.size(_)).sum,
          spark.sessionState.conf.filesMaxPartitionBytes, sc.defaultParallelism)
        val sizes = r.queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect()
        assert(sizes.length == n, s"refresh $i: ${sizes.length} partitions, want $n")
        // balanced by path each time: a coalesce of carried and delta
        // partitions keeps each row where it was, so a partition added as
        // the corpus grows holds only a delta
        val mean = sizes.sum.toDouble / sizes.length
        assert(sizes.max <= 2 * mean && sizes.min >= mean / 2, s"refresh $i: rows per partition ${sizes.toSeq}")
        if (i == 10 || i == 20) assert(persisted() == 1, s"refresh $i: superseded relations stay persisted")
        n
      }
      assert(counts.last > counts.head, s"the corpus never outgrew its partitions: $counts")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    leaveOnFixtures()
  }

  test("refresh after a register never queried, and after lost blocks, is correct") {
    val (d, p) = corpus("refresh-unqueried", 12)
    Terraform.register(spark, p)
    Files.delete(d.resolve("f003.tf"))
    assertSameRows(Terraform.refresh(spark).collect().toSeq, Terraform.rows(spark, p).collect().toSeq,
      "delete after an unqueried register")
    // blocks lost (an executor gone, on a cluster): a full re-parse
    def lose(r: org.apache.spark.sql.Dataset[TfRow]) = Terraform.blocks(r).foreach(_.unpersist(blocking = true))
    lose(Terraform.refresh(spark))
    Files.delete(d.resolve("f004.tf"))
    Files.writeString(d.resolve("f100.tf"), bucket("late"))
    assertSameRows(Terraform.refresh(spark).collect().toSeq, Terraform.rows(spark, p).collect().toSeq,
      "refresh over lost blocks")
    assert(spark.table("terraform_resource").filter(col("name") === "late").count() == 1)
    // ... with no file changed, and through ensureRegistered
    age(d)
    val settled = Terraform.refresh(spark)
    assert(Terraform.refresh(spark) eq settled, "no file changed")
    lose(settled)
    assertSameRows(Terraform.refresh(spark).collect().toSeq, Terraform.rows(spark, p).collect().toSeq,
      "unchanged refresh over lost blocks")
    lose(Terraform.ensureRegistered(spark, p))
    assertSameRows(Terraform.ensureRegistered(spark, p).collect().toSeq, Terraform.rows(spark, p).collect().toSeq,
      "ensureRegistered over lost blocks")
    assert(spark.table("terraform_resource").filter(col("name") === "late").count() == 1)
    leaveOnFixtures()
  }

  test("a DataFrame built before a refresh keeps reading its snapshot; the view moves on") {
    // the snapshot is the stored rows, persisted or checkpointed alike
    val (d, p) = corpus("refresh-snapshot", 8)
    Terraform.register(spark, p)
    def names(df: org.apache.spark.sql.DataFrame) = df.select("name").collect().map(_.getString(0)).toSet
    val first = spark.table("terraform_resource")
    val firstNames = names(first)
    assert(firstNames == (0 until 8).map(i => s"b$i").toSet)
    // two refreshes: the second carries rows the first carried over
    Files.writeString(d.resolve("f001.tf"), bucket("renamed"))
    Files.delete(d.resolve("f002.tf"))
    Files.writeString(d.resolve("f100.tf"), bucket("added"))
    Terraform.refresh(spark)
    val second = spark.table("terraform_resource")
    val secondNames = firstNames -- Set("b1", "b2") ++ Set("renamed", "added")
    assert(names(second) == secondNames)
    Files.writeString(d.resolve("f003.tf"), bucket("again"))
    Terraform.refresh(spark)
    // a collected generation would take its blocks with it
    System.gc(); Thread.sleep(200)
    assert(names(first) == firstNames, "the DataFrame built before the refreshes")
    assert(names(second) == secondNames, "the DataFrame built between the refreshes")
    assert(names(spark.table("terraform_resource")) == secondNames - "b3" + "again")
    leaveOnFixtures()
  }

  test("a refresh reaches the variant views") {
    val (d, p) = corpus("refresh-variant", 6)
    Terraform.register(spark, p)
    Terraform.registerVariantViews(spark)
    Files.writeString(d.resolve("f001.tf"), bucket("renamed"))
    Terraform.refresh(spark)
    val names = spark.sql("select variant_get(arguments, '$.bucket', 'string') from terraform_resource_v")
      .collect().map(_.getString(0)).toSet
    assert(names == Set("b0", "renamed", "b2", "b3", "b4", "b5"), names.toString)
    leaveOnFixtures()
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
