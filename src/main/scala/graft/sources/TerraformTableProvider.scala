package graft.sources

import graft.tf.{Builders, FileKind, JArr, JNum, JStr, Json, Terraform, TfRow}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.{OptionalLong, Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSource V2 packaging of the seven published tables:
  *
  * {{{
  *   spark.read.format("terraform")
  *     .option("table", "terraform_resource")
  *     .option("configurationFilePaths", "&lt;glob or git:: or s3:: source&gt;")
  *     .load()
  * }}}
  *
  * The connector is the DSv2 restatement of the reference's plugin
  * registration (`/root/reference/terraform/plugin.go:19-38`): discovered
  * files bin-packed into InputPartitions (the parent→child
  * hydrate analog, SURVEY §1.1, with small files amortized per task),
  * `Builders.rowsForFile` running on executors, and the
  * reference's single pushed-down qual — `path = '…'` — pruning the file
  * list AT PLANNING TIME (`utils.go:45-58`), so non-matching files are
  * never opened. Column pruning drops unused fields before rows are built.
  * Discovery shares [[Terraform.globLists]]' single listing pass, runs once
  * per scan, and reports the matched bytes as the planner's size estimate.
  *
  * Paths given positionally to `.load(p…)` are configuration paths; the
  * three `…FilePaths` options take source strings in the reference's
  * connection-config grammar (local glob / git:: / s3::), comma-separated
  * or as a JSON array (needed when a source contains a comma, as a `{a,b}`
  * brace glob does).
  *
  * [[Terraform.rows]] reads the same connector through the internal
  * [[TerraformTableProvider.RowsTable]]: every row, under its TfRow names.
  * [[Terraform.streamRows]] streams that table: the micro-batch stream
  * (`TerraformScan.toMicroBatchStream`) is the only Terraform file watch.
  */
final class TerraformTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "terraform"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TerraformTableProvider.schemaFor(TerraformTableProvider.tableName(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new TerraformDsv2Table(new CaseInsensitiveStringMap(properties))
}

object TerraformTableProvider {

  /** Column spec: name, type, and the TfRow field it publishes. Order and
    * NULL semantics are the reference's table declarations, identical to
    * the temp-view projections in Terraform.scala. */
  private type Col = (String, DataType, TfRow => Any)

  private def s(n: String, get: TfRow => Option[String]): Col =
    (n, StringType, r => get(r).map(UTF8String.fromString).orNull)
  private def l(n: String, get: TfRow => Option[Long]): Col =
    (n, LongType, r => get(r).orNull)
  private def b(n: String, get: TfRow => Option[Boolean]): Col =
    (n, BooleanType, r => get(r).orNull)

  private def span: Seq[Col] = Seq(
    l("start_line", _.startLine), l("end_line", _.endLine),
    s("source", _.source), s("path", r => Some(r.path)))

  /** Published table name → (TfRow.table kind, columns). */
  private[sources] val tables: Map[String, (String, Seq[Col])] = Map(
    "terraform_resource" -> ("resource" -> (Seq(
      s("name", _.name), s("type", _.tfType), s("mode", _.mode), s("address", _.address),
      s("arguments", _.arguments), s("attributes", _.attributes),
      s("attributes_std", _.attributesStd), l("count", _.count), s("count_src", _.countSrc),
      s("for_each", _.forEach), s("depends_on", _.dependsOn), s("lifecycle", _.lifecycle),
      s("provider", _.provider)) ++ span)),
    "terraform_data_source" -> ("data_source" -> (Seq(
      s("name", _.name), s("type", _.tfType), s("arguments", _.arguments),
      l("count", _.count), s("count_src", _.countSrc), s("for_each", _.forEach),
      s("depends_on", _.dependsOn), s("provider", _.provider)) ++ span)),
    "terraform_local" -> ("local" -> (Seq(
      s("name", _.name), s("value", _.value)) ++ span)),
    "terraform_module" -> ("module" -> (Seq(
      s("name", _.name), s("module_source", _.moduleSource), s("version", _.version),
      s("arguments", _.arguments), l("count", _.count), s("count_src", _.countSrc),
      s("for_each", _.forEach), s("depends_on", _.dependsOn), s("provider", _.provider)) ++ span)),
    "terraform_output" -> ("output" -> (Seq(
      s("name", _.name), s("value", _.value), s("description", _.description),
      b("sensitive", _.sensitive), s("depends_on", _.dependsOn)) ++ span)),
    "terraform_provider" -> ("provider" -> (Seq(
      s("name", _.name), s("arguments", _.arguments), s("alias", _.alias),
      s("version", _.version)) ++ span)),
    "terraform_variable" -> ("variable" -> (Seq(
      s("name", _.name), s("type", _.tfType), s("default_value", _.defaultValue),
      s("description", _.description), b("sensitive", _.sensitive),
      l("start_line", _.startLine), s("validation", _.validation),
      l("end_line", _.endLine), s("source", _.source), s("path", r => Some(r.path))))),
    "terraform_diagnostics" -> ("_error" -> Seq(
      s("path", r => Some(r.path)), s("error", _.description))))

  /** The superset table behind [[Terraform.rows]]: every parsed row, each
    * TfRow field under its own name, so `.as[TfRow]` binds. Internal: the
    * catalog publishes [[tables]] only. */
  private[graft] val RowsTable = "_terraform_rows"

  /** TfRow fields in encoder-schema order, which is constructor order and
    * so `productElement` order. */
  private val rowColumns: Seq[Col] =
    Encoders.product[TfRow].schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      (f.name, f.dataType, (r: TfRow) => internal(r.productElement(i)))
    }

  /** A TfRow field value as Catalyst stores it. */
  private def internal(v: Any): Any = v match {
    case Some(x)   => internal(x)
    case None      => null
    case s: String => UTF8String.fromString(s)
    case x         => x
  }

  /** table name → (the TfRow.table kind it keeps, None for all; columns). */
  private[sources] def spec(table: String): (Option[String], Seq[Col]) =
    if (table == RowsTable) (None, rowColumns)
    else { val (kind, cols) = tables(table); (Some(kind), cols) }

  /** Columns taken from span recovery: the spans, the block source, and
    * `validation`, which is regex-extracted from that source. A scan that
    * reads none of them parses without spans. */
  private[sources] val spanColumns: Set[String] =
    Set("start_line", "end_line", "startLine", "endLine", "source", "validation")

  private[sources] def tableName(options: CaseInsensitiveStringMap): String = {
    val t = options.getOrDefault("table", "terraform_resource")
    require(tables.contains(t) || t == RowsTable,
      s"unknown terraform table '$t' (expected one of ${tables.keys.toSeq.sorted.mkString(", ")})")
    t
  }

  private[sources] def schemaFor(table: String): StructType =
    StructType(spec(table)._2.map { case (n, dt, _) => StructField(n, dt, nullable = true) })

  /** Bin discovered files into input partitions under the scan rule the
    * batch views use ([[Terraform.scanPartitions]]): `n` bins, filled in
    * size-descending order, each file going to the bin with the least
    * cost so far. A file costs `len + openCostInBytes`, so tiny files
    * balance by count and large ones by bytes. 10⁷ tiny configuration
    * files therefore land in one bin per core, not 10⁷ microsecond tasks,
    * while a handful of large plan/state JSONs still spread across the
    * cluster. A file costing more than an even share is placed while a
    * bin is still empty, and nothing joins it: it gets its own bin. */
  private[sources] def packPartitions(files: Seq[(String, String, Long)],
      maxPartitionBytes: Long, openCostInBytes: Long,
      minPartitions: Int): Array[InputPartition] = {
    val n = Terraform.scanPartitions(files.size, files.iterator.map(_._3).sum,
      maxPartitionBytes, minPartitions)
    val bins = Array.fill(n)(List.newBuilder[(String, String)])
    val byCost = new java.util.PriorityQueue[(Long, Int)](math.max(1, n), Ordering[(Long, Int)])
    bins.indices.foreach(i => byCost.add((0L, i)))
    files.sortBy(f => (-f._3, f._1)).foreach { case (p, k, len) =>
      val (cost, i) = byCost.poll()
      bins(i) += ((p, k))
      byCost.add((cost + len + openCostInBytes, i))
    }
    bins.map(_.result()).filter(_.nonEmpty).map(TfFilePartition(_): InputPartition)
  }

  /** Internal option: the exact files to read, as a JSON array of
    * `[path, kind, length]` triples. [[Terraform.register]] and
    * [[Terraform.refresh]] list the sources themselves ([[listFiles]]) and
    * hand the result over, so the scan reads those files without listing
    * again; every other reader discovers from the source options. */
  private[graft] val ListedFilesOption = "_listedFiles"

  private[graft] def renderListed(files: Seq[(String, String, Long)]): String =
    JArr(files.map { case (p, k, len) => JArr(Vector(JStr(p), JStr(k), JNum(len.toString))) }.toVector).render

  private def parseListed(json: String): Seq[(String, String, Long)] =
    Json.parse(json) match {
      case JArr(items) => items.map {
        case JArr(Vector(JStr(p), JStr(k), JNum(len))) => (p, k, len.toLong)
        case other => throw new IllegalArgumentException(s"$ListedFilesOption: bad entry ${other.render}")
      }
      case other => throw new IllegalArgumentException(s"$ListedFilesOption: not an array: ${other.render}")
    }

  /** The pre-listed files of [[ListedFilesOption]], if the read has them. */
  private[sources] def listedFiles(options: CaseInsensitiveStringMap): Option[Seq[(String, String, Long)]] =
    Option(options.get(ListedFilesOption)).map(parseListed)

  /** Every configured file as (path, kind, length, modification ms): the
    * resolved globs ([[Terraform.resolveGlobs]]) of every source list
    * listed in one pass ([[Terraform.globLists]]: a directory several
    * lists glob is listed once), a `.tfstate` suffix forcing the state
    * kind (utils.go:38-169). The discovery of an unfiltered scan. */
  private[graft] def listFiles(conf: Configuration,
      options: CaseInsensitiveStringMap): Seq[(String, String, Long, Long)] = {
    val kinds = sourcesByKind(options)
    kinds.zip(Terraform.globLists(conf, kinds.map(k => Terraform.resolveGlobs(k._2))))
      .flatMap { case ((kind, _), files) => files.map(st => listed(st, kind)) }
  }

  private[sources] def listed(st: org.apache.hadoop.fs.FileStatus, kind: String): (String, String, Long, Long) = {
    val p = st.getPath.toString
    (p, if (p.endsWith(".tfstate")) FileKind.State else kind, st.getLen, st.getModificationTime)
  }

  /** Configured sources per kind: positional `.load(path)` paths count as
    * configuration paths, like the reference's configuration_file_paths. */
  private[sources] def sourcesByKind(options: CaseInsensitiveStringMap): Seq[(String, Seq[String])] = {
    // A JSON array of sources: DataFrameReader encodes load(p1, p2, …) as
    // one, and Terraform.rows passes one, so a source may contain commas or
    // quotes. Anything else is comma-separated sources, the form users type
    // (for `paths`, the reference's legacy connection argument,
    // connection_config.go:9, routed as configuration files).
    def list(key: String): Seq[String] =
      Option(options.get(key)).toSeq.flatMap { v =>
        graft.tf.Json.parseOpt(v) match {
          case Some(graft.tf.JArr(items)) => items.collect { case graft.tf.JStr(p) => p }
          case _ => v.split(',').map(_.trim).toSeq
        }
      }.filter(_.nonEmpty)
    val configured = Seq(
      FileKind.Config -> (list("configurationFilePaths") ++ list("paths") ++
        Option(options.get("path")).toSeq),
      FileKind.Plan -> list("planFilePaths"),
      FileKind.State -> list("stateFilePaths"))
    // no sources at all → the reference's shipped CWD defaults
    // (config/terraform.spc:23-25), same all-or-nothing rule as
    // Terraform.Paths.orDefaults
    if (configured.forall(_._2.isEmpty)) {
      val d = graft.tf.Terraform.Paths.defaults
      Seq(
        FileKind.Config -> d.configurationFilePaths,
        FileKind.Plan -> d.planFilePaths,
        FileKind.State -> d.stateFilePaths)
    } else configured
  }
}

/** A bin of discovered (path, kind) files packed into one DSv2 input
  * partition (parent→child hydrate, small files amortized per task). */
private final case class TfFilePartition(files: Seq[(String, String)]) extends InputPartition

private final class TerraformDsv2Table(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val table = TerraformTableProvider.tableName(options)

  override def name(): String = table
  override def schema(): StructType = TerraformTableProvider.schemaFor(table)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    // per-read options (spark.read.option(…).table("terraform.…")) override
    // the table's own properties — dropping them would silently read the
    // catalog-configured corpus instead of the one the user just asked for.
    // Merge the CASE-INSENSITIVE views (both expose lowercased keys): the
    // case-sensitive originals can differ only in key case, and the CISM
    // constructor would then collapse the duplicates in hash order —
    // sometimes keeping the stale table property over the user's override.
    val merged = new java.util.HashMap[String, String](options)
    merged.putAll(opts)
    new TerraformScanBuilder(table, new CaseInsensitiveStringMap(merged))
  }
}

private final class TerraformScanBuilder(table: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pathEq: Option[String] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = TerraformTableProvider.schemaFor(table)

  /** The reference's one pushable qual: `path = '…'` (utils.go:45-58).
    * Everything else stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (eq, rest) = filters.partition {
      case EqualTo("path", _: String) => true
      case _ => false
    }
    eq.headOption.foreach { case EqualTo(_, v: String) => pathEq = Some(v); case _ => }
    pushed = eq
    // an EqualTo we prune by is exact — Spark need not re-apply it, but
    // returning every filter (Spark re-checks) keeps semantics obvious
    // for multi-EqualTo corner cases (two different paths → empty).
    rest ++ eq.drop(1)
  }
  override def pushedFilters(): Array[Filter] = pushed.take(1)

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = new TerraformScan(table, options, pathEq, required)
}

private final class TerraformScan(table: String, options: CaseInsensitiveStringMap,
    pathEq: Option[String], required: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"terraform table=$table pushedPath=${pathEq.getOrElse("-")}"

  /** One discovery pass: glob (Terraform.globLists), prune by the pushed
    * `path =` qual BEFORE any file is opened, return (path, kind, len,
    * modMs). Shared by the batch scan and the micro-batch stream.
    *
    * With an exact `path =` qual, membership in a plain glob is decided by
    * pattern alone and the single candidate is stat'ed directly — one RPC
    * instead of a full LIST round over a 10⁷-file corpus. Globs whose
    * membership the matcher can't decide (`{}`/`[]` Hadoop-glob features)
    * still list and filter. */
  private def discover(conf: Configuration): Seq[(String, String, Long, Long)] = pathEq match {
    case None => TerraformTableProvider.listFiles(conf, options)
    case Some(want) =>
      // stat against the MATCHING GLOB's filesystem: the pushed path is the
      // published (scheme-stripped for file:) spelling, so resolving it
      // against the default FS would hit the wrong store on a cluster whose
      // fs.defaultFS differs from the corpus's scheme
      def statOne(glob: String, path: String): Seq[org.apache.hadoop.fs.FileStatus] =
        try {
          val fs = new Path(glob).getFileSystem(conf)
          Seq(fs.getFileStatus(new Path(path))).filter(_.isFile)
        } catch { case _: java.io.FileNotFoundException => Seq.empty }
      TerraformTableProvider.sourcesByKind(options).flatMap { case (kind, cfg) =>
        val globs = Terraform.resolveGlobs(cfg)
        // a mismatch against a decidable, published-spelling glob proves
        // non-membership (skip its LIST); anything else must still list
        // — a relative or `{}`/`[]` glob's mismatch proves nothing
        val (decidable, opaque) = globs.partition(g =>
          Terraform.canDecideMembership(g) && Terraform.comparableSpelling(g))
        val direct = decidable.find(g => Terraform.globMatches(g, want)).toSeq
          .flatMap(g => statOne(g, want))
        (direct ++ Terraform.globOnce(conf, opaque)
          .filter(st => Terraform.stripScheme(st.getPath.toString) == want))
          .distinctBy(_.getPath.toString)
          .map(st => TerraformTableProvider.listed(st, kind))
      }.filter { case (p, _, _, _) => Terraform.stripScheme(p) == want }
  }

  private def pack(spark: SparkSession,
      files: Seq[(String, String, Long)]): Array[InputPartition] =
    TerraformTableProvider.packPartitions(files,
      maxPartitionBytes = spark.sessionState.conf.filesMaxPartitionBytes,
      openCostInBytes = spark.sessionState.conf.filesOpenCostInBytes,
      minPartitions = spark.sparkContext.defaultParallelism)

  private def readerFactory(spark: SparkSession): PartitionReaderFactory = {
    // executor-side FS access needs the driver's Hadoop conf (fs.s3a.impl
    // etc.) — broadcast it ONCE instead of serializing ~1000 entries into
    // every task's reader-factory closure
    val sc = spark.sparkContext
    val bc = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
    val ignoreMissing =
      spark.conf.getOption("spark.sql.files.ignoreMissingFiles").exists(_.toBoolean)
    new TerraformReaderFactory(table, required, bc, ignoreMissing)
  }

  /** The batch scan's files, listed once: the size estimate and the input
    * partitions both read it. A read with [[TerraformTableProvider.ListedFilesOption]]
    * takes those files (still pruned by a pushed `path =` qual) and lists
    * nothing. */
  private lazy val discovered: Seq[(String, String, Long)] =
    TerraformTableProvider.listedFiles(options) match {
      case Some(files) => files.filter(f => pathEq.forall(_ == Terraform.stripScheme(f._1)))
      case None => discover(SparkSession.active.sparkContext.hadoopConfiguration)
          .map(f => (f._1, f._2, f._3))
    }

  /** The matched files' bytes, so the planner can still broadcast a small
    * Terraform table in a join. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(discovered.iterator.map(_._3).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  /** Discovery at planning time, then the survivors are bin-packed
    * (TerraformTableProvider.packPartitions) so a corpus of tiny files
    * doesn't become one task per file. */
  override def planInputPartitions(): Array[InputPartition] =
    pack(SparkSession.active, discovered)

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory(SparkSession.active)

  /** File-watch through the connector — the reference's `steampipe:"watch"`
    * re-query (connection_config.go:8-11, SURVEY A21) as a DSv2
    * MicroBatchStream: the offset is a modification-time watermark; each
    * micro-batch parses exactly the files that appeared OR changed since
    * the previous one (an updated file's rows re-emit, the streaming
    * analog of the reference re-running the query on change). The session
    * is captured here, on the driver's planning thread. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val spark = SparkSession.active
    new MicroBatchStream {
      private val hadoopConf = spark.sparkContext.hadoopConfiguration
      // one listing per trigger, not one per callback: latestOffset's
      // listing is reused by the planInputPartitions that follows it (the
      // A1 object-store concern — a 10⁷-file glob should not run twice
      // per micro-batch). Replay from a checkpoint (planInputPartitions
      // with no prior latestOffset in this process) re-lists.
      @volatile private var lastListing: Seq[(String, String, Long, Long)] = null
      // monotonicity floor: an empty or transiently-shrunken listing must
      // never regress the watermark below anything already emitted or
      // committed — a regressed offset would re-emit processed files as
      // duplicates when they reappear
      @volatile private var maxSeen: Long = Long.MinValue
      // one broadcast for the stream's lifetime, not one per micro-batch
      private lazy val factory = TerraformScan.this.readerFactory(spark)

      // replay all once — below any representable mtime (a strictly-
      // greater filter from 0 would permanently skip epoch-0 files)
      override def initialOffset(): Offset = TfModTimeOffset(Long.MinValue)
      override def deserializeOffset(json: String): Offset = {
        val ms = json.trim.toLong
        maxSeen = math.max(maxSeen, ms) // restart: floor at the committed offset
        TfModTimeOffset(ms)
      }
      override def latestOffset(): Offset = {
        val listing = discover(hadoopConf)
        lastListing = listing
        maxSeen = math.max(maxSeen,
          listing.map(_._4).maxOption.getOrElse(Long.MinValue))
        TfModTimeOffset(maxSeen)
      }

      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
        val s = start.asInstanceOf[TfModTimeOffset].maxModMs
        val e = end.asInstanceOf[TfModTimeOffset].maxModMs
        val listing = {
          val l = lastListing
          if (l != null) l else discover(hadoopConf)
        }
        pack(spark, listing
          .filter(f => f._4 > s && f._4 <= e)
          .map(f => (f._1, f._2, f._3)))
      }

      override def createReaderFactory(): PartitionReaderFactory = factory

      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()
    }
  }
}

/** Micro-batch offset: the max file modification time already processed.
  * Strictly-greater filtering gives exactly-once per (file, modTime);
  * the known trade-off (shared with any pure-watermark file source): a
  * file landing with EXACTLY the committed watermark's millisecond after
  * that batch planned is not re-discovered until it is touched again.
  * Spark's own FileStreamSource pays a seen-files map to close this
  * ms-level race; at 10⁷ watched files the watermark's O(1) state is the
  * right trade. */
private final case class TfModTimeOffset(maxModMs: Long) extends Offset {
  override def json(): String = maxModMs.toString
}

private final class TerraformReaderFactory(table: String, required: StructType,
    bcConf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    ignoreMissing: Boolean)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val fp = partition.asInstanceOf[TfFilePartition]
    val (kindFilter, cols) = TerraformTableProvider.spec(table)
    val getters = {
      val byName = cols.map { case (n, _, g) => n -> g }.toMap
      required.fields.map(f => byName(f.name))
    }
    new PartitionReader[InternalRow] {
      private lazy val rows: Iterator[TfRow] = {
        val conf = bcConf.value.value
        // span elision: when column pruning dropped every span-derived
        // column, skip span recovery / source slicing in the parse
        val needSpans = required.fieldNames.exists(TerraformTableProvider.spanColumns)
        // the FileSystem of each scheme and authority, resolved once per
        // partition, not once per file. Local files open through the raw
        // local FS: the checksummed one stats a `.crc` sidecar per open,
        // and Terraform files have none
        val fileSystems = scala.collection.mutable.HashMap.empty[(String, String), FileSystem]
        def open(hp: Path) = {
          val uri = hp.toUri
          fileSystems.getOrElseUpdate((uri.getScheme, uri.getAuthority), hp.getFileSystem(conf) match {
            case local: LocalFileSystem => local.getRawFileSystem
            case fs => fs
          }).open(hp)
        }
        // one packed bin of files, parsed lazily in sequence — one file's
        // content at a time, so per-task memory stays bounded
        fp.files.iterator.flatMap { case (path, kind) =>
          // a file can vanish between planning-time listing and this read
          // (watched corpora churn): honor spark.sql.files.ignoreMissingFiles
          // like Spark's file sources, surfacing the skip as a
          // terraform_diagnostics row instead of failing every task retry
          val parsed = try {
            val in = open(new Path(path))
            val content = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
            Builders.rowsForFile(Terraform.stripScheme(path), kind, content,
                withSpans = needSpans)
          } catch {
            case e: java.io.FileNotFoundException if ignoreMissing =>
              Seq(TfRow.empty.copy(table = "_error",
                path = Terraform.stripScheme(path),
                description = Some(s"missing: ${Option(e.getMessage).getOrElse(path)}")))
          }
          parsed.iterator.filter(r => kindFilter.forall(_ == r.table))
        }
      }
      private var current: TfRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow =
        new GenericInternalRow(getters.map(g => g(current)).asInstanceOf[Array[Any]])
      override def close(): Unit = ()
    }
  }
}
