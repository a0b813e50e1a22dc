package graft.sources

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable

/** DataSource V2 sink for the `transform` step's tagged union (SURVEY.md
  * O-9): NDJSON, one directory per record kind, in the layout Spark's
  * `write.partitionBy("type").json(path)` gives —
  * `type=<kind>/part-<partition>-<queryId>.c000.json` plus `_SUCCESS` —
  * and with the same bytes, but without its per-row cost:
  *
  *   df.write.format(classOf[UnionSink].getName).mode("overwrite").save(path)
  *
  *  - no sort: each task keeps one open file per record kind it meets
  *    (the union has three), where Spark sorts every row by `type` so as
  *    to hold one file open at a time;
  *  - no partition projection: the kind is read off the row's `type`;
  *  - no Jackson: [[JsonRecordEncoder]] writes each row's other columns
  *    straight to UTF-8 bytes, in schema order, with Spark's escaping,
  *    number forms and null handling
  *    (`spark.sql.jsonGenerator.ignoreNullFields`). A `geometry` struct
  *    column is written as its GeoJSON text, a JSON string, with a Point's
  *    one coordinate pair unwrapped (see [[UnionSink.geometryWriter]]);
  *  - the session's Hadoop configuration travels once with the writer
  *    factory, not as a fresh `Configuration` per task.
  *
  * Commit: task attempts write under a staging directory beside `path`,
  * one sub-directory per attempt. Spark's commit coordinator lets one
  * attempt per partition commit; the job commit moves exactly the files
  * those commit messages name into a new tree, then swaps it for the old
  * output and deletes the staging directory, with the old output and any
  * file of a failed or retried attempt in it. An abort deletes only the
  * staging directory: a failed write leaves the previous output as it
  * was. The swap is two renames, so it is quick and all-or-nothing on a
  * file system whose renames are (HDFS, local disks), not on object
  * stores.
  *
  * Only `overwrite` mode is supported, and the sink is write-only.
  */
class UnionSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("the union sink is write-only")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new UnionSinkTable(properties.get("path"), schema)
  override def supportsExternalMetadata(): Boolean = true
}

object UnionSink {

  /** The record-kind column: one output directory per value. */
  val KindColumn = "type"

  /** The column written as GeoJSON text. */
  val GeometryColumn = "geometry"

  /** Normalized geometry (`model.Geometry`): a Point's coordinates are
    * one pair inside an outer array. */
  val GeometryType: StructType = new StructType()
    .add("type", StringType)
    .add("coordinates", ArrayType(ArrayType(DoubleType)))

  /** The directory of one kind, as Spark's partitioned writers name it. */
  private[sources] def kindDirectory(kind: UTF8String): String =
    s"$KindColumn=" + (
      if (kind == null || kind.numBytes == 0)
        ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(kind.toString))

  /** The file system that writes `path`: for a local path, Hadoop's local
    * file system with one change (see [[NioPermissionsFileSystem]]). */
  private[sources] def fileSystem(path: Path, conf: Configuration): FileSystem =
    path.getFileSystem(conf) match {
      case local: LocalFileSystem =>
        val fs = new LocalFileSystem(new NioPermissionsFileSystem)
        fs.initialize(local.getUri, conf)
        fs
      case fs => fs
    }

  private val Point = UTF8String.fromString("Point")

  /** The normalized geometry as exact GeoJSON text in a JSON string:
    * `{"type":"Point","coordinates":[x,y]}` for a Point, whose first pair
    * becomes the coordinates (a Point without one has none), and the
    * struct as it is for any other type (MultiPoint, or a null type). The
    * text is what `to_json` makes of it, so it follows the same
    * null-field rule. It is written straight in its escaped form: its own
    * quotes as `\"`, a type name escaped twice.
    */
  private[sources] def geometryWriter(ignoreNullFields: Boolean): ValueWriter =
    new ValueWriter {
      private def escaped(s: String) = s.getBytes(UTF_8)
      private val typeField = escaped("\\\"type\\\":")
      private val coordinatesField = escaped("\\\"coordinates\\\":")
      private val point = escaped("\\\"Point\\\"")
      private val typeText = new ByteBuf(32)

      /** `[x,y,…]`, null elements as `null`. */
      private def putPair(pair: ArrayData, out: ByteBuf): Unit = {
        out.put('[')
        var k = 0
        while (k < pair.numElements()) {
          if (k > 0) out.put(',')
          if (pair.isNullAt(k)) out.put(JsonRecordEncoder.Null)
          else JsonRecordEncoder.putDoubleInString(pair.getDouble(k), out)
          k += 1
        }
        out.put(']')
      }

      def write(g: SpecializedGetters, i: Int, out: ByteBuf): Unit = {
        val geometry = g.getStruct(i, 2)
        val kind = if (geometry.isNullAt(0)) null else geometry.getUTF8String(0)
        val coordinates = if (geometry.isNullAt(1)) null else geometry.getArray(1)
        out.put('"')
        out.put('{')
        if (Point == kind) {
          out.put(typeField)
          out.put(point)
          val pair = if (coordinates == null || coordinates.numElements() == 0 ||
            coordinates.isNullAt(0)) null else coordinates.getArray(0)
          if (pair != null || !ignoreNullFields) {
            out.put(',')
            out.put(coordinatesField)
            if (pair == null) out.put(JsonRecordEncoder.Null) else putPair(pair, out)
          }
        } else {
          val typed = kind != null || !ignoreNullFields
          if (typed) {
            out.put(typeField)
            if (kind == null) out.put(JsonRecordEncoder.Null)
            else {
              typeText.size = 0
              JsonRecordEncoder.putString(kind, typeText)
              JsonRecordEncoder.putStringContent(typeText, out)
            }
          }
          if (coordinates != null || !ignoreNullFields) {
            if (typed) out.put(',')
            out.put(coordinatesField)
            if (coordinates == null) out.put(JsonRecordEncoder.Null)
            else {
              out.put('[')
              var k = 0
              while (k < coordinates.numElements()) {
                if (k > 0) out.put(',')
                if (coordinates.isNullAt(k)) out.put(JsonRecordEncoder.Null)
                else putPair(coordinates.getArray(k), out)
                k += 1
              }
              out.put(']')
            }
          }
        }
        out.put('}')
        out.put('"')
      }
    }
}

/** Hadoop's raw local file system, setting permissions through `java.nio`.
  * Without Hadoop's native library, `RawLocalFileSystem` runs a `chmod`
  * process for every file and directory it creates, checksum files
  * included: about 2.5 ms each, several times the write itself. The files,
  * their checksum files and their permissions come out the same.
  */
private[sources] class NioPermissionsFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch {
      // a sticky bit, or a file system without POSIX permissions
      case _: IllegalArgumentException | _: UnsupportedOperationException =>
        super.setPermission(p, permission)
    }
}

class UnionSinkTable(path: String, tableSchema: StructType)
    extends Table with SupportsWrite {
  require(path != null, "path is required")
  override def name(): String = s"union-ndjson:$path"
  override def schema(): StructType = tableSchema
  // the write takes the query's own schema, nested nullability included
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new UnionWriteBuilder(path, info)
}

class UnionWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncated = false
  override def truncate(): WriteBuilder = { truncated = true; this }

  override def build(): Write = {
    require(truncated, "the union sink only overwrites: use mode(\"overwrite\")")
    val schema = info.schema()
    val layout = UnionLayout(schema, SQLConf.get.jsonGeneratorIgnoreNullFields)
    layout.encoder() // fails here, at plan time, on a column it cannot write
    val session = SparkSession.active
    val conf = session.sessionState.newHadoopConf()
    val out = new Path(path)
    val fs = out.getFileSystem(conf)
    val target = fs.makeQualified(out)
    require(target.getParent != null, s"cannot write the union to $target")
    val staging = new Path(target.getParent,
      s".${target.getName}-${info.queryId()}.staging")
    new Write {
      override def description(): String = s"UnionSink $target"
      override def toString: String = description()
      override def toBatch: BatchWrite =
        new UnionBatchWrite(target, staging, info.queryId(), layout, conf)
    }
  }
}

/** What every task needs to lay out and encode its rows. */
final case class UnionLayout(schema: StructType, ignoreNullFields: Boolean) {
  val kindOrdinal: Int = schema.fieldNames.indexOf(UnionSink.KindColumn)
  require(kindOrdinal >= 0,
    s"the union needs a `${UnionSink.KindColumn}` column: ${schema.simpleString}")
  require(schema(kindOrdinal).dataType == StringType,
    s"`${UnionSink.KindColumn}` must be a string")

  /** The line writer: every column but the kind, in schema order. */
  def encoder(): JsonRecordEncoder.StructWriter = {
    val geometry = Some(schema.fieldNames.indexOf(UnionSink.GeometryColumn))
      .filter(_ >= 0)
    geometry.foreach(k => require(
      schema(k).dataType.simpleString == UnionSink.GeometryType.simpleString,
      s"`${UnionSink.GeometryColumn}` must be " +
        UnionSink.GeometryType.simpleString))
    new JsonRecordEncoder.StructWriter(
      schema.fields.indices.filter(_ != kindOrdinal)
        .map(k => (k, schema(k).name, schema(k).dataType)),
      ignoreNullFields,
      geometry.map(_ -> UnionSink.geometryWriter(ignoreNullFields)).toMap)
  }
}

/** The files one task attempt wrote: (staged file, path in the output). */
final case class UnionCommitMessage(files: Seq[(String, String)])
    extends WriterCommitMessage

class UnionBatchWrite(target: Path, staging: Path, queryId: String,
                      layout: UnionLayout, conf: Configuration)
    extends BatchWrite {

  private lazy val fs: FileSystem = UnionSink.fileSystem(target, conf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    if (!fs.mkdirs(staging)) throw new IOException(s"cannot create $staging")
    // broadcast: deserialized once per executor, not once per task
    UnionWriterFactory(staging.toString, queryId, layout,
      SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val tree = new Path(staging, "output")
    val files = messages.toSeq.flatMap {
      case m: UnionCommitMessage => m.files
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    (tree +: files.map(f => new Path(tree, f._2).getParent)).distinct
      .foreach(d => if (!fs.mkdirs(d)) throw new IOException(s"cannot create $d"))
    files.foreach { case (staged, rel) =>
      if (!fs.rename(new Path(staged), new Path(tree, rel)))
        throw new IOException(s"cannot move $staged into the output")
    }
    fs.create(new Path(tree, "_SUCCESS"), true).close()
    // swap: the old output moves into the staging directory, which goes
    val previous = new Path(staging, "previous")
    val hadPrevious = fs.exists(target)
    if (hadPrevious && !fs.rename(target, previous))
      throw new IOException(s"cannot move the old output $target aside")
    if (!fs.rename(tree, target)) {
      if (hadPrevious) fs.rename(previous, target)
      throw new IOException(s"cannot move the new output to $target")
    }
    fs.delete(staging, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(staging, true)
}

final case class UnionWriterFactory(staging: String, queryId: String,
                                    layout: UnionLayout,
                                    conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new UnionDataWriter(this, partitionId, taskId)
}

/** One task attempt's writer: a buffer and a file per record kind. */
class UnionDataWriter(f: UnionWriterFactory, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val attemptDir = new Path(f.staging, s"attempt-$taskId")
  private val fs = UnionSink.fileSystem(attemptDir, f.conf.value.value)
  private val fileName = f"part-$partitionId%05d-${f.queryId}.c000.json"
  private val encoder = f.layout.encoder()
  private val kindOrdinal = f.layout.kindOrdinal

  private final class Kind(val key: UTF8String) {
    val rel = s"${UnionSink.kindDirectory(key)}/$fileName"
    val path = new Path(attemptDir, rel)
    val buf = new ByteBuf(UnionDataWriter.FlushBytes + 4096)
    var stream: FSDataOutputStream = fs.create(path, false)
    def flush(): Unit = { stream.write(buf.bytes, 0, buf.size); buf.size = 0 }
  }

  // a union has a handful of kinds: a list beats hashing every row's kind
  private val kinds = mutable.ArrayBuffer.empty[Kind]
  private var last: Kind = _ // the previous row's kind

  override def write(row: InternalRow): Unit = {
    val key = if (row.isNullAt(kindOrdinal)) null
      else row.getUTF8String(kindOrdinal)
    if (last == null || key != last.key) {
      var k = 0
      while (k < kinds.length && kinds(k).key != key) k += 1
      if (k == kinds.length) {
        // the row's string may point into a reused buffer: keep a copy
        kinds += new Kind(if (key == null) null else key.clone())
      }
      last = kinds(k)
    }
    encoder.write(row, last.buf)
    last.buf.put('\n')
    if (last.buf.size >= UnionDataWriter.FlushBytes) last.flush()
  }

  override def commit(): WriterCommitMessage = {
    val files = kinds.toSeq.map { k =>
      k.flush()
      k.stream.close()
      k.stream = null
      (k.path.toString, k.rel)
    }
    UnionCommitMessage(files)
  }

  override def abort(): Unit = {
    close()
    fs.delete(attemptDir, true)
  }

  override def close(): Unit =
    kinds.foreach { k =>
      if (k.stream != null) {
        try k.stream.close() catch { case _: IOException => }
        k.stream = null
      }
    }
}

object UnionDataWriter {
  /** A kind's buffer goes to its file once it holds this many bytes. */
  final val FlushBytes = 1 << 16
}
