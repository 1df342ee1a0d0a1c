package graft.tf

import java.nio.file.{Files, Paths => JPaths}
import java.security.MessageDigest

/** Source-path resolution for the reference's go-getter-style path surface
  * (docs/index.md:103-236): local globs, remote Git repositories
  * (`github.com/org/repo//glob`, `git::ssh://…//glob`, `?ref=` pins) and
  * S3 URLs (`s3::https://bucket.s3.region.amazonaws.com/prefix//glob`).
  *
  * Spark-native resolution strategy:
  *   - **Local** paths pass through (with `~` expansion), staying lazy
  *     Hadoop globs — listing and reading are distributed.
  *   - **S3** URLs rewrite to `s3a://bucket/prefix/glob` Hadoop URIs: on a
  *     cluster the object store is read directly and in parallel by the
  *     terraform scan — strictly better than the reference's
  *     download-then-scan staging (credentials flow through the standard
  *     Hadoop s3a provider chain, the analog of the reference's
  *     AWS_PROFILE handling).
  *   - **Git** repositories are materialized once per (url, ref) into a
  *     local cache directory by a pluggable fetcher (driver-side clone —
  *     inherently centralized, as in the reference), then globbed like
  *     any local source; everything downstream stays distributed.
  */
object Sources {

  sealed trait Source
  /** Plain local/Hadoop glob (passes through unchanged apart from `~`). */
  final case class LocalGlob(glob: String) extends Source
  /** S3 source rewritten to a Hadoop s3a:// glob. */
  final case class S3Glob(s3aGlob: String) extends Source
  /** Git repository + optional ref + glob relative to the checkout root. */
  final case class GitGlob(repoUrl: String, ref: Option[String], glob: String) extends Source
  /** Archive URL (http(s)/file, go-getter's generic getter + unarchiver:
    * zip / tar.gz / tgz / tar) + glob relative to the unpacked root. */
  final case class ArchiveGlob(url: String, kind: String, glob: String) extends Source

  /** Fetches (clones) a git repo, returning the local checkout dir. */
  type GitFetcher = (String, Option[String]) => java.io.File

  /** Fetches an archive `(url, kind)` and unpacks it, returning the
    * local root dir. */
  type ArchiveFetcher = (String, String) => java.io.File

  private val gitHosts = Seq("github.com/", "gitlab.com/", "bitbucket.org/")

  /** Archive kind from an explicit go-getter `?archive=` override or the
    * URL's extension; None → not an archive source. */
  private[tf] def archiveKind(base: String, params: Map[String, String]): Option[String] = {
    val hinted = params.get("archive").map(_.toLowerCase)
      .map { case "tgz" => "tar.gz"; case k => k }
      .filter(Set("zip", "tar", "tar.gz"))
    hinted.orElse {
      val p = base.toLowerCase
      if (p.endsWith(".zip")) Some("zip")
      else if (p.endsWith(".tar.gz") || p.endsWith(".tgz")) Some("tar.gz")
      else if (p.endsWith(".tar")) Some("tar")
      else None
    }
  }

  /** Classify one configured path (reference forms, docs/index.md):
    *   `git::<url>[//sub]//glob[?ref=…]`  explicit git
    *   `github.com/org/repo//glob`        well-known git hosts, https
    *   `s3::https://bucket.s3[.region].amazonaws.com[/prefix]//glob[?…]`
    *   `http(s)://…/x.{zip,tar.gz,tgz,tar}//glob[?archive=…]`
    *                                      generic go-getter archive (the
    *                                      one extra form the SDK's
    *                                      go-getter accepts beyond the
    *                                      documented ones; `file://`
    *                                      archives work the same way)
    *   anything else                      local glob (`~` expanded)
    */
  def parse(path: String): Source =
    if (path.startsWith("git::")) parseGit(path.stripPrefix("git::"))
    else if (gitHosts.exists(path.startsWith)) parseGit("https://" + path)
    else if (path.startsWith("s3::")) parseS3(path.stripPrefix("s3::"))
    else if (Seq("http://", "https://", "file://").exists(path.startsWith) && {
      val (noQuery, params) = splitQuery(path)
      archiveKind(splitArchiveGlob(noQuery)._1, params).isDefined
    }) parseArchive(path)
    else LocalGlob(
      if (path.startsWith("~" + java.io.File.separator) || path == "~")
        sys.props.getOrElse("user.home", "~") + path.drop(1)
      else path)

  /** [[splitDoubleSlash]] for archive URLs: additionally skips the
    * slashes right after the scheme, so a host-less `file:///abs/path`
    * URL is not split at its own third slash. */
  private def splitArchiveGlob(s: String): (String, Option[String]) = {
    val schemeEnd = s.indexOf("://") match { case -1 => 0; case i => i + 3 }
    var from = schemeEnd
    while (from < s.length && s.charAt(from) == '/') from += 1
    val at = s.indexOf("//", from)
    if (at < 0) (s, None)
    else (s.substring(0, at), Some(s.substring(at + 2).replace("//", "/")))
  }

  private def parseArchive(s: String): Source = {
    val (noQuery, params) = splitQuery(s)
    val (base, globOpt) = splitArchiveGlob(noQuery)
    // the query (go-getter's archive/checksum params) is dropped from
    // the fetch URL; plain source-server params are out of scope
    ArchiveGlob(base, archiveKind(base, params).get, globOpt.getOrElse("**"))
  }

  private def splitQuery(s: String): (String, Map[String, String]) = {
    val q = s.indexOf('?')
    if (q < 0) (s, Map.empty)
    else (s.substring(0, q),
      s.substring(q + 1).split('&').toSeq.filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> v
          case Array(k)    => k -> ""
        }
      }.toMap)
  }

  /** Split `base//rest` at the first `//` that is NOT the scheme's `://`.
    * Later `//` inside `rest` are plain path separators (the reference's
    * `repo//subdir//<glob>` form). */
  private def splitDoubleSlash(s: String): (String, Option[String]) = {
    val schemeEnd = s.indexOf("://") match { case -1 => 0; case i => i + 3 }
    val at = s.indexOf("//", schemeEnd)
    if (at < 0) (s, None)
    else (s.substring(0, at), Some(s.substring(at + 2).replace("//", "/")))
  }

  private def parseGit(urlAndGlob: String): Source = {
    val (noQuery, params) = splitQuery(urlAndGlob)
    val (repo, globOpt) = splitDoubleSlash(noQuery)
    GitGlob(repo, params.get("ref").filter(_.nonEmpty), globOpt.getOrElse("**"))
  }

  private val S3HostRe = "^(.+)\\.s3(?:[.-][A-Za-z0-9-]+)*\\.amazonaws\\.com$".r

  /** `https://<bucket>.s3[.<region>].amazonaws.com[/prefix]//glob` →
    * `s3a://bucket/prefix/glob`. Unrecognized hosts keep the raw URL as a
    * Hadoop glob (custom endpoints are the s3a provider's concern). */
  private def parseS3(url: String): Source = {
    val (noQuery, _) = splitQuery(url) // aws_profile/region → s3a provider chain
    val (base, globOpt) = splitDoubleSlash(noQuery)
    val hostStart = base.indexOf("://") match {
      case -1 => 0 // scheme omitted: the host starts immediately
      case i  => i + 3
    }
    val slash = base.indexOf('/', hostStart)
    val (host, prefix) =
      if (slash < 0) (base.substring(hostStart), "")
      else (base.substring(hostStart, slash), base.substring(slash + 1))
    // cut at the OFFICIAL amazonaws suffix (greedy bucket group): bucket
    // names may legally contain ".s3", so cutting at the first occurrence
    // would target the wrong bucket
    val bucket = host match {
      case S3HostRe(b) => b
      case _           => host
    }
    val parts = Seq(prefix, globOpt.getOrElse("**")).filter(_.nonEmpty)
    S3Glob(s"s3a://$bucket/${parts.mkString("/")}")
  }

  /** Resolve configured paths to concrete globs Spark can scan. Git
    * sources are cloned via `fetch`, archives fetched+unpacked via
    * `fetchArchive`; local and s3a globs pass through. */
  def resolve(paths: Seq[String], fetch: GitFetcher = systemGitFetcher,
      fetchArchive: ArchiveFetcher = systemArchiveFetcher): Seq[String] =
    paths.map(parse).map {
      case LocalGlob(g)  => g
      case S3Glob(g)     => g
      case GitGlob(url, ref, glob) =>
        new java.io.File(fetch(url, ref), glob).getPath
      case ArchiveGlob(url, kind, glob) =>
        new java.io.File(fetchArchive(url, kind), glob).getPath
    }

  /** Default fetcher: `git clone --depth 1 [--branch ref]` into a content-
    * addressed cache dir (one clone per (url, ref) per machine; repeat
    * resolves reuse it — the analog of go-getter's download cache).
    *
    * Crash-safe: the clone lands in a fresh temp sibling and is renamed
    * into the cache key only on success (atomic on one filesystem), so a
    * JVM crash mid-clone never leaves a partial directory that later
    * resolves silently reuse, and two concurrent resolves can't observe
    * each other's half-written checkout — whoever renames second just
    * discards its copy. */
  /** A cache entry counts as a completed checkout only if it looks like
    * one (`.git` present — depth-1 clones have it). An empty or squatted
    * path at the key is corrupt cache state, not a checkout. */
  private[tf] def completedCheckout(dir: java.io.File): Boolean =
    dir.isDirectory && new java.io.File(dir, ".git").exists()

  /** After a failed cache rename, only a CONCURRENT resolve having
    * completed the checkout excuses the failure; anything else (e.g. a
    * genuine permission error) must surface, not silently hand back an
    * empty/garbage cache dir. */
  private[tf] def verifyRenameFallback(dir: java.io.File, url: String, e: Throwable): Unit =
    if (!completedCheckout(dir)) throw new IllegalStateException(
      s"git cache rename failed for $url and no completed checkout exists at $dir", e)

  /** Per-key monitors: concurrent in-JVM resolves of the same (url, ref)
    * serialize, so the reclaim-delete below can never destroy a checkout
    * another thread just completed (cross-PROCESS safety still rests on
    * the atomic-rename protocol, re-checked right before any delete). */
  private val fetchLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def run(cmd: Seq[String]): (Int, String) = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    (p.waitFor(), out)
  }

  def systemGitFetcher: GitFetcher = (url, ref) => {
    val key = MessageDigest.getInstance("SHA-1")
      .digest((url + "@" + ref.getOrElse("")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val dir = JPaths.get(sys.props("java.io.tmpdir"), "graft-git-cache", key).toFile
    fetchLocks.computeIfAbsent(key, _ => new Object).synchronized {
      if (!completedCheckout(dir)) {
        // the key lives in our private cache namespace: a leftover that is
        // not a completed checkout (crash artifact, squatting file) is ours
        // to reclaim before re-cloning — re-checked at the last instant so
        // a checkout another PROCESS just renamed in survives
        if (dir.exists() && !completedCheckout(dir))
          org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
        if (!completedCheckout(dir)) {
          Files.createDirectories(dir.getParentFile.toPath)
          val tmp = Files.createTempDirectory(dir.getParentFile.toPath, s".$key-").toFile
          val (code, out) = run(Seq("git", "clone", "--quiet", "--depth", "1") ++
            ref.toSeq.flatMap(r => Seq("--branch", r)) ++ Seq(url, tmp.getPath))
          if (code != 0) {
            org.apache.hadoop.fs.FileUtil.fullyDelete(tmp)
            // ?ref= may pin a COMMIT SHA (go-getter supports it) — git
            // rejects --branch <sha>, so fall back to a full clone + checkout
            val shaRecovered = ref.exists { r =>
              Files.createDirectories(tmp.toPath)
              val (c2, o2) = run(Seq("git", "clone", "--quiet", url, tmp.getPath))
              val ok = c2 == 0 && run(Seq("git", "-C", tmp.getPath, "checkout",
                "--quiet", r))._1 == 0
              if (!ok) org.apache.hadoop.fs.FileUtil.fullyDelete(tmp)
              ok
            }
            if (!shaRecovered)
              throw new IllegalArgumentException(s"git clone failed for $url: $out")
          }
          try Files.move(tmp.toPath, dir.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            case e @ (_: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException |
                 _: java.nio.file.AccessDeniedException) =>
              org.apache.hadoop.fs.FileUtil.fullyDelete(tmp)
              verifyRenameFallback(dir, url, e)
          }
        }
      }
    }
    dir
  }

  /** A cache entry counts as a completed unpack only if the marker the
    * unpacker writes LAST is present — the archive analog of
    * [[completedCheckout]]'s `.git` probe. */
  private[tf] def completedUnpack(dir: java.io.File): Boolean =
    dir.isDirectory && new java.io.File(dir, ".graft-unpacked").exists()

  /** Default archive fetcher: stream the URL (http(s) or file) and
    * unpack into a content-addressed cache dir under the SAME
    * crash-safe protocol as [[systemGitFetcher]] — fresh temp sibling,
    * completion marker written last, ATOMIC_MOVE into the key, loser of
    * a concurrent race discards its copy. Supports go-getter's generic
    * archive forms: zip, tar, tar.gz/tgz. */
  def systemArchiveFetcher: ArchiveFetcher = (url, kind) => {
    val key = MessageDigest.getInstance("SHA-1")
      .digest((url + "#" + kind).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val dir = JPaths.get(sys.props("java.io.tmpdir"), "graft-archive-cache", key).toFile
    fetchLocks.computeIfAbsent("archive:" + key, _ => new Object).synchronized {
      if (!completedUnpack(dir)) {
        if (dir.exists() && !completedUnpack(dir))
          org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
        if (!completedUnpack(dir)) {
          Files.createDirectories(dir.getParentFile.toPath)
          val tmp = Files.createTempDirectory(dir.getParentFile.toPath, s".$key-").toFile
          try {
            val in = new java.net.URL(url).openStream()
            try unpack(in, kind, tmp) finally in.close()
            Files.writeString(new java.io.File(tmp, ".graft-unpacked").toPath, url)
          } catch {
            case e: Throwable =>
              org.apache.hadoop.fs.FileUtil.fullyDelete(tmp)
              throw new IllegalArgumentException(s"archive fetch failed for $url: ${e.getMessage}", e)
          }
          try Files.move(tmp.toPath, dir.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            case e @ (_: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException |
                 _: java.nio.file.AccessDeniedException) =>
              org.apache.hadoop.fs.FileUtil.fullyDelete(tmp)
              if (!completedUnpack(dir)) throw new IllegalStateException(
                s"archive cache rename failed for $url and no completed unpack exists at $dir", e)
          }
        }
      }
    }
    dir
  }

  /** Unpack `in` (already positioned at the archive bytes) into `target`.
    * Every entry path is canonicalized and must stay under the target
    * root — a crafted `../…` entry (zip-slip) fails the whole unpack
    * instead of writing outside the cache. */
  private def unpack(in: java.io.InputStream, kind: String, target: java.io.File): Unit = {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    import org.apache.commons.compress.archivers.zip.ZipArchiveInputStream
    val archive: org.apache.commons.compress.archivers.ArchiveInputStream[
      _ <: org.apache.commons.compress.archivers.ArchiveEntry] = kind match {
      case "zip"    => new ZipArchiveInputStream(in)
      case "tar"    => new TarArchiveInputStream(in)
      case "tar.gz" => new TarArchiveInputStream(new java.util.zip.GZIPInputStream(in))
      case other    => throw new IllegalArgumentException(s"unsupported archive kind: $other")
    }
    val root = target.getCanonicalFile
    var entry = archive.getNextEntry
    while (entry != null) {
      val out = new java.io.File(root, entry.getName).getCanonicalFile
      if (out != root && !out.getPath.startsWith(root.getPath + java.io.File.separator))
        throw new IllegalArgumentException(s"archive entry escapes target dir: ${entry.getName}")
      if (entry.isDirectory) Files.createDirectories(out.toPath)
      else {
        Files.createDirectories(out.getParentFile.toPath)
        val os = Files.newOutputStream(out.toPath)
        // ArchiveInputStream.read is bounded per entry, so transferTo
        // copies exactly this entry's bytes
        try archive.transferTo(os) finally os.close()
      }
      entry = archive.getNextEntry
    }
  }
}
