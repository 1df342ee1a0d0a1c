package graft.tf

import java.net.URI
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, RawLocalFileSystem}

/** Test-only object store: serves `s3a://bucket/<abs-path>` from the local
  * filesystem (the bucket authority is dropped; the key IS the local path).
  * Lets SourcesSpec drive the full `s3::` surface — Sources.parse →
  * per-glob FileSystem resolution → terraform scan — without network or
  * an S3A jar. Installed via `fs.s3a.impl` in the test's Hadoop conf.
  *
  * I/O happens against translated `file:` paths (RawLocalFileSystem's
  * lazy permission loading requires them); returned statuses are re-rooted
  * to `s3a://bucket/…` so Hadoop's globber and Spark's file index see
  * object-store paths throughout. */
class MockS3FileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("s3a://bucket/")
  override def getScheme: String = "s3a"
  override def checkPath(path: Path): Unit = ()

  import MockS3FileSystem.{getStatusCalls, listStatusCalls}

  private def toLocal(p: Path): Path = new Path("file:" + p.toUri.getPath)
  // fixed permission: the superclass status loads permissions lazily via a
  // `new java.io.File(path.toUri)` that only accepts file: URIs, and the
  // status path has already been re-qualified to s3a by getFileStatus
  private def reroot(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) org.apache.hadoop.fs.permission.FsPermission.getDirDefault
      else org.apache.hadoop.fs.permission.FsPermission.getFileDefault,
      "tester", "tester", new Path("s3a://bucket" + st.getPath.toUri.getPath))

  override def getFileStatus(f: Path): FileStatus = {
    getStatusCalls.incrementAndGet()
    reroot(super.getFileStatus(toLocal(f)))
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    listStatusCalls.incrementAndGet()
    super.listStatus(toLocal(f)).map(reroot)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    super.open(toLocal(f), bufferSize)
}

/** Listing-RPC counters: every `getFileStatus`/`listStatus` against the
  * mock store is one would-be object-store round trip — SourcesSpec pins
  * that discovery pays the listing ONCE, not per pre-probe + scan. */
object MockS3FileSystem {
  val getStatusCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  val listStatusCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  def resetCounters(): Unit = { getStatusCalls.set(0); listStatusCalls.set(0) }
  def totalCalls: Int = getStatusCalls.get + listStatusCalls.get
}
