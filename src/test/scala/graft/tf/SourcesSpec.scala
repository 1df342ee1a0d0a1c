package graft.tf

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths => JPaths, StandardCopyOption}

/** go-getter-style source resolution (reference docs/index.md:103-236). */
class SourcesSpec extends SparkSpecBase {

  import Sources._

  test("parse: local paths pass through, ~ expands") {
    assert(parse("*.tf") == LocalGlob("*.tf"))
    assert(parse("/path/to/dir/main.tf") == LocalGlob("/path/to/dir/main.tf"))
    val home = sys.props("user.home")
    assert(parse("~/x/*.tf") == LocalGlob(s"$home/x/*.tf"))
  }

  test("parse: well-known git hosts imply https git sources") {
    assert(parse("github.com/turbot/steampipe-plugin-aws//*.tf") ==
      GitGlob("https://github.com/turbot/steampipe-plugin-aws", None, "*.tf"))
    assert(parse("github.com/turbot/steampipe-plugin-aws//**/*.tf?ref=fix_7677") ==
      GitGlob("https://github.com/turbot/steampipe-plugin-aws", Some("fix_7677"), "**/*.tf"))
    // subdirectory form: repo//subdir//glob — later // are path separators
    assert(parse("github.com/turbot/steampipe-plugin-aws//aws-test/tests/aws_acm_certificate//*.tf") ==
      GitGlob("https://github.com/turbot/steampipe-plugin-aws", None,
        "aws-test/tests/aws_acm_certificate/*.tf"))
    assert(parse("bitbucket.org/benturrell/terraform-arcgis-portal//modules/shared//*.tf") ==
      GitGlob("https://bitbucket.org/benturrell/terraform-arcgis-portal", None,
        "modules/shared/*.tf"))
    assert(parse("gitlab.com/gitlab-org/configure/examples/gitlab-terraform-aws//*.tf") ==
      GitGlob("https://gitlab.com/gitlab-org/configure/examples/gitlab-terraform-aws", None, "*.tf"))
  }

  test("parse: explicit git:: prefix with ssh scheme (:// is not the repo/glob split)") {
    assert(parse("git::ssh://git@github.com/test_org/test_repo//*.tf") ==
      GitGlob("ssh://git@github.com/test_org/test_repo", None, "*.tf"))
  }

  test("parse: s3:: URLs rewrite to s3a:// Hadoop globs") {
    assert(parse("s3::https://bucket-2.s3.us-east-1.amazonaws.com//*.tf?aws_profile=p") ==
      S3Glob("s3a://bucket-2/*.tf"))
    assert(parse("s3::https://bucket-2.s3.us-east-1.amazonaws.com/test_folder//*.tf") ==
      S3Glob("s3a://bucket-2/test_folder/*.tf"))
    assert(parse("s3::https://bucket.s3.amazonaws.com//**/*.tfstate") ==
      S3Glob("s3a://bucket/**/*.tfstate"))
  }

  test("parse: http(s)/file archive URLs classify with kind and glob; non-archives stay local") {
    assert(parse("https://example.com/modules/pkg.zip//*.tf") ==
      ArchiveGlob("https://example.com/modules/pkg.zip", "zip", "*.tf"))
    assert(parse("https://example.com/pkg.tar.gz//mod/sub//*.tf") ==
      ArchiveGlob("https://example.com/pkg.tar.gz", "tar.gz", "mod/sub/*.tf"))
    assert(parse("https://example.com/pkg.tgz") ==
      ArchiveGlob("https://example.com/pkg.tgz", "tar.gz", "**"))
    // go-getter's explicit ?archive= override beats the extension
    assert(parse("https://example.com/download//*.tf?archive=zip") ==
      ArchiveGlob("https://example.com/download", "zip", "*.tf"))
    // host-less file:/// archives split at the GLOB //, not the scheme's
    assert(parse("file:///tmp/x/pkg.zip//*.tf") ==
      ArchiveGlob("file:///tmp/x/pkg.zip", "zip", "*.tf"))
    // a plain https URL without an archive form stays a local glob
    assert(parse("https://example.com/page") == LocalGlob("https://example.com/page"))
  }

  test("resolve: archive source unpacks once into the cache and globs the root") {
    def writeZip(to: java.io.File, entries: (String, Array[Byte])*): Unit = {
      val zo = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(to))
      entries.foreach { case (name, bytes) =>
        zo.putNextEntry(new java.util.zip.ZipEntry(name))
        zo.write(bytes)
        zo.closeEntry()
      }
      zo.close()
    }
    val tf = Files.readAllBytes(JPaths.get("fixtures/main.tf"))
    val src = Files.createTempDirectory("arcsrc")
    val zipFile = src.resolve("pkg.zip").toFile
    writeZip(zipFile, "mod/main.tf" -> tf, "README.md" -> "hi".getBytes)
    val Seq(glob) = resolve(Seq(s"file://${zipFile.getPath}//mod/*.tf"))
    val matched = new java.io.File(glob).getParentFile.listFiles()
      .filter(_.getName.endsWith(".tf"))
    assert(matched.map(_.getName).toSeq == Seq("main.tf"),
      s"unpacked glob root wrong: $glob")
    assert(java.util.Arrays.equals(Files.readAllBytes(matched.head.toPath), tf))
    // cache hit: a second resolve works even after the source vanishes
    assert(zipFile.delete())
    val Seq(again) = resolve(Seq(s"file://${zipFile.getPath}//mod/*.tf"))
    assert(again == glob, "second resolve must reuse the unpacked cache")

    // tar.gz through the same path
    val tgz = src.resolve("pkg.tar.gz").toFile
    val to = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(tgz)))
    val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry("main.tf")
    e.setSize(tf.length.toLong)
    to.putArchiveEntry(e); to.write(tf); to.closeArchiveEntry(); to.close()
    val Seq(tglob) = resolve(Seq(s"file://${tgz.getPath}//*.tf"))
    val tmatched = new java.io.File(tglob).getParentFile.listFiles()
      .filter(_.getName.endsWith(".tf"))
    assert(tmatched.map(_.getName).toSeq == Seq("main.tf"))
  }

  test("resolve: a zip-slip entry fails the unpack instead of escaping the cache") {
    val src = Files.createTempDirectory("arcevil")
    val zipFile = src.resolve("evil.zip").toFile
    val zo = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zipFile))
    zo.putNextEntry(new java.util.zip.ZipEntry("../evil.tf"))
    zo.write("resource \"x\" \"y\" {}".getBytes)
    zo.closeEntry(); zo.close()
    val err = intercept[IllegalArgumentException](
      resolve(Seq(s"file://${zipFile.getPath}//*.tf")))
    assert(err.getMessage.contains("escapes"), s"wrong failure: ${err.getMessage}")
    assert(!new java.io.File(
      JPaths.get(sys.props("java.io.tmpdir"), "graft-archive-cache").toFile, "evil.tf").exists())
  }

  test("resolve: git source clones once into the cache and globs the checkout") {
    // an offline "remote": a local git repo served over file://
    val repoDir = Files.createTempDirectory("gitsrc").toFile
    Files.copy(JPaths.get("fixtures/main.tf"),
      JPaths.get(repoDir.getPath, "main.tf"), StandardCopyOption.REPLACE_EXISTING)
    def git(args: String*): Unit = {
      val p = new ProcessBuilder(
        (Seq("git", "-C", repoDir.getPath, "-c", "user.email=t@t", "-c", "user.name=t") ++ args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8")
      assert(p.waitFor() == 0, s"git ${args.head} failed: $out")
    }
    git("init", "--quiet")
    git("add", ".")
    git("commit", "--quiet", "-m", "init")

    val url = s"git::file://${repoDir.getPath}//*.tf"
    val resolved = Sources.resolve(Seq(url))
    assert(resolved.size == 1 && resolved.head.endsWith("/*.tf"), resolved.toString)

    // end-to-end: the configured git URL parses like any local source
    val rows = Terraform.rows(spark,
      Terraform.Paths(configurationFilePaths = Seq(url)))
    assert(rows.filter(col("table") === "resource").count() == 3)

    // second resolve must reuse the cached checkout (same dir, no re-clone)
    assert(Sources.resolve(Seq(url)) == resolved)
  }

  test("resolve: failed git fetch reports the source, local globs unaffected") {
    val e = intercept[IllegalArgumentException](
      Sources.resolve(Seq("git::file:///nonexistent-repo-xyz//*.tf")))
    assert(e.getMessage.contains("nonexistent-repo-xyz"))
    assert(Sources.resolve(Seq("fixtures/*.tf")) == Seq("fixtures/*.tf"))
  }

  test("discovery: overlapping globs dedup by path; directory matches are skipped") {
    val dir = Files.createTempDirectory("graft-overlap").toFile
    Files.writeString(JPaths.get(dir.getPath, "one.tf"),
      "resource \"aws_instance\" \"only\" {}\n")
    assert(new java.io.File(dir, "sub").mkdir())
    // one.tf matches BOTH globs; `sub` matches the wildcard as a directory
    val rows = Terraform.rows(spark, Terraform.Paths(configurationFilePaths =
      Seq(s"$dir/*", s"$dir/one.tf")))
    assert(rows.filter(col("table") === "resource").count() == 1,
      "a file matched by two globs must contribute rows once")
  }

  test("git cache: rename fallback only excused by a completed checkout") {
    // no checkout behind the failed rename → genuine failure surfaces
    val junk = Files.createTempDirectory("graft-junk").toFile
    val e = intercept[IllegalStateException](
      Sources.verifyRenameFallback(junk, "git://x/y", new RuntimeException("boom")))
    assert(e.getMessage.contains("no completed checkout"))
    assert(e.getCause.getMessage == "boom")
    // a concurrent resolve's completed checkout (.git present) excuses it
    val ok = Files.createTempDirectory("graft-ok").toFile
    assert(new java.io.File(ok, ".git").mkdir())
    Sources.verifyRenameFallback(ok, "git://x/y", new RuntimeException("boom")) // no throw
  }

  test("git cache: a corrupt (squatted/empty) cache entry is reclaimed, not served") {
    val repoDir = Files.createTempDirectory("gitsrc2").toFile
    Files.copy(JPaths.get("fixtures/main.tf"),
      JPaths.get(repoDir.getPath, "main.tf"), StandardCopyOption.REPLACE_EXISTING)
    def git(args: String*): Unit = {
      val p = new ProcessBuilder(
        (Seq("git", "-C", repoDir.getPath, "-c", "user.email=t@t", "-c", "user.name=t") ++ args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8")
      assert(p.waitFor() == 0, s"git ${args.head} failed: $out")
    }
    git("init", "--quiet"); git("add", "."); git("commit", "--quiet", "-m", "init")

    // squat the cache key with a plain FILE (e.g. crash artifact): the
    // old behavior cloned, failed the rename, and silently served the file
    val url = s"file://${repoDir.getPath}"
    val key = java.security.MessageDigest.getInstance("SHA-1")
      .digest((url + "@").getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cachePath = JPaths.get(sys.props("java.io.tmpdir"), "graft-git-cache", key)
    Files.createDirectories(cachePath.getParent)
    org.apache.hadoop.fs.FileUtil.fullyDelete(cachePath.toFile)
    Files.writeString(cachePath, "squatter")
    try {
      val resolved = Sources.resolve(Seq(s"git::$url//*.tf"))
      assert(resolved.size == 1 && resolved.head.endsWith("/*.tf"))
      assert(Sources.completedCheckout(cachePath.toFile), "reclaimed + re-cloned")
      // an EMPTY directory at the key (old-code crash leftover) likewise re-clones
      org.apache.hadoop.fs.FileUtil.fullyDelete(cachePath.toFile)
      Files.createDirectories(cachePath)
      assert(Sources.resolve(Seq(s"git::$url//*.tf")) == resolved)
      assert(Sources.completedCheckout(cachePath.toFile))
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(cachePath.toFile)
  }

  test("e2e: s3:: source reaches the binaryFile scan (mocked object store)") {
    // reference S3 branch: utils.go:143 (tfStateList) — the full path:
    // s3:: URL → s3a:// glob → PER-GLOB FileSystem resolution (the session
    // default FS is file:///; resolving against it threw Wrong FS) → scan
    val dir = Files.createTempDirectory("graft-s3-e2e").toFile
    Files.writeString(JPaths.get(dir.getPath, "main.tf"),
      """resource "aws_instance" "from_s3" {
        |  ami = "ami-00000001"
        |}
        |""".stripMargin)
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3a.impl", classOf[MockS3FileSystem].getName)
    val rows = Terraform.rows(spark, Terraform.Paths(configurationFilePaths = Seq(
      s"s3::https://bucket.s3.us-east-1.amazonaws.com${dir.getAbsolutePath}//*.tf")))
    val res = rows.filter(col("table") === "resource").collect()
    assert(res.length == 1 && res.head.name.contains("from_s3"))
    assert(res.head.path.startsWith("s3a://bucket/"))
    // a non-matching s3 glob is an empty result, not an error (utils.go:148-151)
    assert(Terraform.rows(spark, Terraform.Paths(configurationFilePaths = Seq(
      s"s3::https://bucket.s3.us-east-1.amazonaws.com${dir.getAbsolutePath}//*.nomatch"))).isEmpty)
  }

  test("state-only config: columns stay aligned when earlier source lists are empty") {
    // the empty-config branch emits case-class column order while the
    // non-empty branch is path-first — a positional union would silently
    // swap path/table and empty every view
    val dir = new java.io.File("fixtures").getAbsolutePath
    val rows = Terraform.rows(spark,
      Terraform.Paths(stateFilePaths = Seq(s"$dir/terraform.tfstate")))
    val rs = rows.filter(col("table") === "resource").collect()
    assert(rs.length == 3, "state resources must survive an empty config list")
    assert(rs.forall(_.path.endsWith("terraform.tfstate")))
  }

  test("recursive ** glob spans zero or more directory levels") {
    val root = Files.createTempDirectory("graft-doublestar").toFile
    Files.createDirectories(JPaths.get(root.getPath, "a", "b"))
    Files.writeString(JPaths.get(root.getPath, "top.tf"),
      "resource \"aws_s3_bucket\" \"top\" {}\n")
    Files.writeString(JPaths.get(root.getPath, "a", "mid.tf"),
      "resource \"aws_s3_bucket\" \"mid\" {}\n")
    Files.writeString(JPaths.get(root.getPath, "a", "b", "deep.tf"),
      "resource \"aws_s3_bucket\" \"deep\" {}\n")
    // Hadoop's globStatus degrades ** to one level; the recursive matcher
    // must find root-level, one-deep AND two-deep files (go-getter parity)
    val rows = Terraform.rows(spark,
      Terraform.Paths(configurationFilePaths = Seq(s"${root.getAbsolutePath}/**/*.tf")))
    val names = rows.filter(col("table") === "resource").collect().flatMap(_.name).sorted.toSeq
    assert(names == Seq("deep", "mid", "top"), s"got $names")
    // pure matcher pins
    assert(Terraform.globRegex("/x/**/*.tf").matcher("/x/a.tf").matches())
    assert(Terraform.globRegex("/x/**/*.tf").matcher("/x/a/b/c.tf").matches())
    assert(!Terraform.globRegex("/x/**/*.tf").matcher("/y/a.tf").matches())
    assert(!Terraform.globRegex("/x/*.tf").matcher("/x/a/b.tf").matches())
  }

  test("recursive discovery: the local listStatus walk lists what listFiles(recursive) lists") {
    val root = Files.createTempDirectory("graft-walk").toFile
    Seq("top.tf", "notes.txt", "a/mid.tf", "a/b/deep.tf", "a/x.tf/inner.tf",
        "a/x.tf/c/leaf.tf", "empty/.keep").foreach { rel =>
      val f = JPaths.get(root.getPath, rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, "resource \"aws_s3_bucket\" \"b\" {}\n")
    }
    Files.createDirectories(JPaths.get(root.getPath, "a", "none"))
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
    val fs = base.getFileSystem(conf)
    assert(fs.getScheme == "file")
    val walked = Terraform.listTree(fs, base).map(_.getPath.toString).toSet
    val listed = {
      val it = fs.listFiles(base, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSet
    }
    assert(walked.size == 7 && walked == listed, s"walk $walked vs listFiles $listed")
    // the `**` glob descends into the directory named x.tf but never
    // returns it as a file
    val matched = Terraform.globOnce(conf, Seq(s"${root.getAbsolutePath}/**/*.tf"))
      .map(st => st.getPath.toUri.getPath.stripPrefix(root.getAbsolutePath + "/")).toSet
    assert(matched == Set("top.tf", "a/mid.tf", "a/b/deep.tf", "a/x.tf/inner.tf", "a/x.tf/c/leaf.tf"),
      s"got $matched")
  }

  test("legacy `paths` connection argument routes as configuration files") {
    // reference connection_config.go:9 — the fourth, deprecated source
    // list; an old steampipe config using it must port verbatim
    val dir = Files.createTempDirectory("graft-legacy-paths").toFile
    Files.writeString(JPaths.get(dir.getPath, "legacy.tf"),
      "resource \"aws_s3_bucket\" \"via_legacy\" {}\n")
    val viaLegacy = Terraform.rows(spark,
      Terraform.Paths(paths = Seq(s"${dir.getAbsolutePath}/*.tf")))
    val viaModern = Terraform.rows(spark,
      Terraform.Paths(configurationFilePaths = Seq(s"${dir.getAbsolutePath}/*.tf")))
    assert(viaLegacy.collect().toSeq == viaModern.collect().toSeq)
    assert(viaLegacy.filter(col("table") === "resource").collect()
      .exists(_.name.contains("via_legacy")))
  }

  test("discovery pays the object-store listing once, not pre-probe + scan") {
    val dir = Files.createTempDirectory("graft-s3-count").toFile
    Files.writeString(JPaths.get(dir.getPath, "a.tf"),
      "resource \"aws_instance\" \"one\" {}\n")
    Files.writeString(JPaths.get(dir.getPath, "b.tf"),
      "resource \"aws_instance\" \"two\" {}\n")
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3a.impl", classOf[MockS3FileSystem].getName)
    val src = s"s3::https://bucket.s3.us-east-1.amazonaws.com${dir.getAbsolutePath}//*.tf"

    // cost of ONE manual glob pass over the same source
    MockS3FileSystem.resetCounters()
    val hp = new org.apache.hadoop.fs.Path(s"s3a://bucket${dir.getAbsolutePath}/*.tf")
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(hp)
    val singlePass = MockS3FileSystem.totalCalls
    assert(singlePass > 0)

    // planning the rows scan (discovery, the size estimate and the input
    // partitions) pays exactly one glob pass: the scan lists once and
    // both consumers read that listing
    MockS3FileSystem.resetCounters()
    val rows = Terraform.rows(spark, Terraform.Paths(configurationFilePaths = Seq(src)))
    rows.queryExecution.executedPlan.foreach {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
      case _ =>
    }
    val listingCalls = MockS3FileSystem.totalCalls
    assert(listingCalls <= singlePass,
      s"discovery re-listed: $listingCalls RPCs vs $singlePass for one glob pass")
    assert(rows.filter(col("table") === "resource").count() == 2)
  }

  test("ensureRegistered: same paths reuse the cached parse, new paths re-register") {
    val dir = new java.io.File("fixtures").getAbsolutePath
    val p = Terraform.Paths(configurationFilePaths = Seq(s"$dir/*.tf"))
    val r1 = Terraform.ensureRegistered(spark, p)
    assert(Terraform.ensureRegistered(spark, p) eq r1,
      "identical paths must be a no-op reusing the cached rows")
    val tmp = java.nio.file.Files.createTempDirectory("ensure-reg")
    java.nio.file.Files.writeString(tmp.resolve("x.tf"),
      "resource \"aws_s3_bucket\" \"er\" {}\n")
    val p2 = Terraform.Paths(configurationFilePaths = Seq(s"$tmp/*.tf"))
    val r2 = Terraform.ensureRegistered(spark, p2)
    assert(r2 ne r1, "a different configuration must re-register")
    assert(spark.table("terraform_resource").count() == 1,
      "views must reflect the newly registered corpus")
    Terraform.register(spark, p) // leave the shared session on fixtures
  }

  test("refresh keeps the session's shim functions: registered once, not replaced") {
    val p = Terraform.Paths(configurationFilePaths = Seq(s"${new java.io.File("fixtures").getAbsolutePath}/*.tf"))
    Terraform.register(spark, p)
    def builder = spark.sessionState.functionRegistry.lookupFunctionBuilder(
      org.apache.spark.sql.catalyst.FunctionIdentifier("json_get")).get
    val before = builder
    Terraform.refresh(spark)
    assert(builder eq before, "refresh re-registered the shims")
    assert(spark.sql("""SELECT json_get('{"a":1}', 'a')""").head.getString(0) == "1")
  }

  test("empty Paths resolve the reference's shipped CWD defaults (terraform.spc:23-25)") {
    // all-or-nothing substitution: any configured list suppresses the lot
    assert(Terraform.Paths().orDefaults == Terraform.Paths.defaults)
    assert(Terraform.Paths(paths = Seq("x.tf")).orDefaults ==
      Terraform.Paths(paths = Seq("x.tf")))
    val partial = Terraform.Paths(stateFilePaths = Seq("s.tfstate"))
    assert(partial.orDefaults == partial,
      "an explicitly configured list must suppress every default, like editing the spc")

    // behavioral: stage one file of each kind in the CWD (the forked test
    // JVM's CWD is the repo root) — a no-argument registration must find
    // all three via `*.tf` / `*.tfplan.json` / `*.tfstate`
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val fx = java.nio.file.Paths.get("fixtures")
    val staged = Seq(
      (fx.resolve("main.tf"), cwd.resolve("zz_spec_default.tf")),
      (fx.resolve("tfplan.json"), cwd.resolve("zz_spec_default.tfplan.json")),
      (fx.resolve("terraform.tfstate"), cwd.resolve("zz_spec_default.tfstate")))
    staged.foreach { case (src, dst) => java.nio.file.Files.copy(src, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
    try {
      val rows = Terraform.rows(spark, Terraform.Paths())
      val byPath = rows.select("path").distinct()
        .collect().map(_.getString(0)).toSet
      staged.foreach { case (_, dst) =>
        assert(byPath.contains(dst.toString), s"default glob missed $dst")
      }
      // DSv2 packaging honors the same defaults on a bare load()
      val v2 = spark.read.format("terraform").load()
        .filter(col("path") === cwd.resolve("zz_spec_default.tf").toString)
      assert(v2.count() > 0, "bare DSv2 load() must resolve the CWD defaults")
    } finally staged.foreach { case (_, dst) => java.nio.file.Files.deleteIfExists(dst) }
  }
}
