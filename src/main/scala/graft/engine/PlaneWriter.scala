package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import graft.model.{FetchResult, UrlRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.conf.{ParquetConfiguration, PlainParquetConfiguration}
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{InputFile, LocalInputFile, LocalOutputFile, OutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{GroupType, MessageType}
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  SparkToParquetSchemaConverter}
import org.apache.spark.sql.graftbridge.TaskOutputBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/**
 * The engine's one parquet writer: every plane it writes goes through
 * here — the checkpoint planes (`pending_w*`, `seen/flush_*`,
 * `seen/compact_*`, `pace_w*`, `hostn_w*`), the lineage (`lineage/upto_*`)
 * and the fetched pages (`fetched/wave_*`). A Dataset write pays Spark
 * SQL's fixed per-write cost (planning, a job, a commit protocol) for each
 * plane; on a short crawl that cost, not the rows, was most of the time
 * outside the waves. Here one Spark job writes every plane of a
 * checkpoint ([[checkpointTask]]), a wave's fetch tasks write its pages as
 * they fetch them ([[taskPart]]), and driver-held rows are written with no
 * job at all.
 *
 * The files read back exactly as Spark's own: the parquet schema is Spark's
 * `SparkToParquetSchemaConverter` applied to the plane's StructType (maps
 * and arrays in the standard three-level layout, structs as groups), the
 * footer carries Spark's row metadata, and the codec is Spark's default
 * SNAPPY with parquet-mr's default row-group and page sizes, which are
 * Spark's too. A part file written inside a task adds its bytes and rows
 * to the task's output metrics, as a Dataset write's would.
 *
 * Crash and retry safety: the driver clears a plane's dir before the
 * write; a writer fills a hidden temp file (readers skip names that start
 * with '.') and renames it atomically to `part-<index>-c000.snappy.parquet`,
 * so a retried task attempt replaces its part file instead of adding one.
 */
private[engine] object PlaneWriter {

  val urlRecordSchema: StructType = org.apache.spark.sql.Encoders.product[UrlRecord].schema
  val fetchResultSchema: StructType = org.apache.spark.sql.Encoders.product[FetchResult].schema
  val seenSchema: StructType = StructType(Seq(
    StructField("url_hash", LongType), StructField("canonical", StringType),
    StructField("host_bucket", IntegerType), StructField("wave", IntegerType)))
  val lineageSchema: StructType = StructType(Seq(
    StructField("wave", IntegerType), StructField("partition_id", IntegerType),
    StructField("in_count", LongType), StructField("fetched", LongType),
    StructField("errors", LongType), StructField("deduped_wave", LongType),
    StructField("novel_wave", LongType)))
  /** A lineage row: (wave, partition_id, in_count, fetched, errors,
    * deduped_wave, novel_wave), as [[lineageSchema]]. */
  type LineageRow = (Int, Int, Long, Long, Long, Long, Long)
  /** A per-host plane (`pace_w*`: next_allowed_ms, `hostn_w*`: admitted). */
  private def hostSchema(value: String): StructType = StructType(Seq(
    StructField("host_bucket", IntegerType, nullable = false),
    StructField("host_hash", LongType, nullable = false),
    StructField(value, LongType, nullable = false)))
  val paceSchema: StructType = hostSchema("next_allowed_ms")
  val hostNSchema: StructType = hostSchema("admitted")

  /** The plane dirs one checkpoint writes; `pace`/`hostN` only when active. */
  final case class Dirs(pending: String, seen: String, pace: Option[String], hostN: Option[String]) {
    def all: Seq[String] = Seq(pending, seen) ++ pace ++ hostN
  }

  /** Empties `dir` (creating it if absent): the write's Overwrite. */
  def clear(dir: String): Unit = {
    graft.util.Fs.deleteRecursively(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir))
  }

  /** Writes driver-held `rows` as the only part file of `dir`, which is
    * cleared first. An empty `rows` still writes one file with a footer. */
  def writeDir(dir: String, schema: StructType, rows: Iterator[Product]): Unit = {
    clear(dir)
    plane(dir, 0, schema)(p => rows.foreach(p.write))
  }

  /** One task of a checkpoint's write job: writes its share of the zipped
    * (state, pending) partitions as part file `index` of each plane, one
    * plane after another, so the task holds one open parquet writer at a
    * time, as a Dataset write of one plane does. Pending rows stream into
    * their file; the bucket states (the cached objects, not copies) are
    * kept until the pending file commits and then feed the seen, pace and
    * hostN files. Seen rows are the log chunks newer than `sinceWave`: the
    * changelog flush, or with `sinceWave = -1` the whole log (a
    * compaction). */
  def checkpointTask(index: Int, rows: Iterator[(Int, AnyRef)], dirs: Dirs, sinceWave: Int): Unit = {
    val states = scala.collection.mutable.ArrayBuffer.empty[(Int, BucketSeen)]
    plane(dirs.pending, index, urlRecordSchema) { p =>
      rows.foreach {
        case (_, r: UrlRecord) => p.write(r)
        case (b, st: BucketSeen) => states += ((b, st))
      }
    }
    plane(dirs.seen, index, seenSchema) { p =>
      for ((b, st) <- states; ch <- st.log.iterator if ch.wave > sinceWave) {
        var i = 0
        while (i < ch.size) { p.write((ch.hashes(i), ch.canonical(i), b, ch.wave)); i += 1 }
      }
    }
    dirs.pace.foreach(plane(_, index, paceSchema) { p =>
      for ((b, st) <- states; (h, ms) <- st.pace) p.write((b, h, ms))
    })
    dirs.hostN.foreach(plane(_, index, hostNSchema) { p =>
      for ((b, st) <- states; (h, n) <- st.hostN) p.write((b, h, n))
    })
  }

  /** Part file `index` of `dir`, written row by row by the running task
    * (a fetch task's pages, a reference interval's): a task that fails or
    * ends before [[Part.finish]] leaves no file. */
  def taskPart(dir: String, index: Int, schema: StructType): Part = {
    val p = new Part(dir, index, schema)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => p.abort()))
    p
  }

  /** Writes part file `index` of `dir` with `fill` and commits it. */
  private def plane(dir: String, index: Int, schema: StructType)(fill: Part => Unit): Unit = {
    val p = new Part(dir, index, schema)
    try { fill(p); p.finish() }
    catch { case t: Throwable => p.abort(); throw t }
  }

  /** Part file `index` of `dir`: opened at its first row, written to a
    * hidden temp file, renamed into place by [[finish]]. */
  final class Part private[PlaneWriter] (dir: String, index: Int, schema: StructType) {
    private val target: Path = Paths.get(dir, f"part-$index%05d-c000.snappy.parquet")
    private val tmp: Path = Paths.get(dir, s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    private var writer: ParquetWriter[Product] = _
    private var rows = 0L

    private def open(): Unit = if (writer == null) {
      writer = new Builder(new LocalOutputFile(tmp), new ProductWriteSupport(schema))
        .withConf(new PlainParquetConfiguration())
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
        .build()
    }

    def write(row: Product): Unit = { open(); writer.write(row); rows += 1 }

    /** Closes the file and renames it into place, adding its bytes and
      * rows to the running task's output metrics. A part that got no row
      * writes no file, except index 0, so an empty plane still has one
      * footer-bearing file. */
    def finish(): Unit = {
      if (index == 0) open()
      if (writer != null) {
        writer.close()
        writer = null
        val bytes = Files.size(tmp)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        TaskOutputBridge.addOutput(bytes, rows)
      }
    }

    /** Drops an unfinished file; a no-op after [[finish]]. */
    def abort(): Unit = {
      if (writer != null) try writer.close() catch { case _: Throwable => () }
      writer = null
      Files.deleteIfExists(tmp)
    }
  }

  private final class Builder(file: OutputFile, ws: WriteSupport[Product])
      extends ParquetWriter.Builder[Product, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[Product] = ws
    override def getWriteSupport(conf: ParquetConfiguration): WriteSupport[Product] = ws
  }

  /** Writes a Product whose elements follow `schema`, in order: Int, Long,
    * Boolean, String and binary fields, string maps, arrays and nested
    * Products (structs). A null element is an absent optional field, as
    * Spark writes it. */
  private final class ProductWriteSupport(schema: StructType) extends WriteSupport[Product] {
    private val message: MessageType = new SparkToParquetSchemaConverter().convert(schema)
    private var rc: RecordConsumer = _
    private val fields: Any => Unit = fieldsWriter(schema, message)

    /** Writes a non-null value as field `i` of its group; null writes nothing. */
    private def field(gt: GroupType, i: Int, w: Any => Unit): Any => Unit = {
      val name = gt.getType(i).getName
      v => if (v != null) { rc.startField(name, i); w(v); rc.endField(name, i) }
    }

    /** A Product's elements as the fields of `gt` (a struct, or the row). */
    private def fieldsWriter(st: StructType, gt: GroupType): Any => Unit = {
      val ws = st.fields.indices.map(i => field(gt, i, writerOf(st.fields(i).dataType, gt.getType(i)))).toArray
      v => {
        val p = v.asInstanceOf[Product]
        var i = 0
        while (i < ws.length) { ws(i)(p.productElement(i)); i += 1 }
      }
    }

    /** Spark's standard layout of a list or a map: group { repeated group
      * { entry fields } }, an empty one an empty group. */
    private def repeatedWriter(pt: org.apache.parquet.schema.Type, entries: Any => Iterator[Any])(
        entry: GroupType => Any => Unit): Any => Unit = {
      val rep = pt.asGroupType().getType(0).asGroupType()
      val (name, ew) = (rep.getName, entry(rep))
      v => {
        val it = entries(v)
        rc.startGroup()
        if (it.hasNext) {
          rc.startField(name, 0)
          it.foreach { e => rc.startGroup(); ew(e); rc.endGroup() }
          rc.endField(name, 0)
        }
        rc.endGroup()
      }
    }

    private def writerOf(t: DataType, pt: org.apache.parquet.schema.Type): Any => Unit = t match {
      case IntegerType => v => rc.addInteger(v.asInstanceOf[Int])
      case LongType => v => rc.addLong(v.asInstanceOf[Long])
      case BooleanType => v => rc.addBoolean(v.asInstanceOf[Boolean])
      case StringType => v => rc.addBinary(Binary.fromString(v.asInstanceOf[String]))
      case BinaryType => v => rc.addBinary(Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
      case st: StructType =>
        val fw = fieldsWriter(st, pt.asGroupType())
        v => { rc.startGroup(); fw(v); rc.endGroup() }
      case ArrayType(et, _) =>
        repeatedWriter(pt, _.asInstanceOf[Iterable[Any]].iterator)(rep =>
          field(rep, 0, writerOf(et, rep.getType(0))))
      case MapType(kt, vt, _) =>
        repeatedWriter(pt, _.asInstanceOf[scala.collection.Map[Any, Any]].iterator) { rep =>
          val (kw, vw) = (field(rep, 0, writerOf(kt, rep.getType(0))),
            field(rep, 1, writerOf(vt, rep.getType(1))))
          e => { val (k, x) = e.asInstanceOf[(Any, Any)]; kw(k); vw(x) }
        }
    }

    override def init(conf: Configuration): WriteSupport.WriteContext = context
    override def init(conf: ParquetConfiguration): WriteSupport.WriteContext = context
    private def context = new WriteSupport.WriteContext(message, Map(
      "org.apache.spark.sql.parquet.row.metadata" -> schema.json,
      "org.apache.spark.version" -> org.apache.spark.SPARK_VERSION_SHORT).asJava)

    override def prepareForWrite(c: RecordConsumer): Unit = rc = c

    override def write(p: Product): Unit = {
      rc.startMessage()
      fields(p)
      rc.endMessage()
    }
  }
}

/**
 * The engine's one parquet reader, [[PlaneWriter]]'s inverse: the task
 * that needs a plane's rows reads its part files itself, through
 * parquet-mr and Spark's own `ParquetReadSupport` (the row converter a
 * `spark.read` scan uses), and decodes each row with the plane's encoder.
 * No Spark SQL query runs: no planning, no file index, no scan RDD, so a
 * resume in a fresh JVM pays no Spark SQL set-up before its first job.
 */
private[engine] object PlaneReader {

  /** The reader of the plane written with `schema`: a part file's rows,
    * decoded as `A` (a case class by field name, a tuple by position) and
    * streamed; the file is closed when they run out or the running task
    * ends. A task closure can carry it. */
  def apply[A: TypeTag](schema: StructType): String => Iterator[A] = {
    val (json, enc) =
      (schema.json, ExpressionEncoder[A]().resolveAndBind(DataTypeUtils.toAttributes(schema)))
    file => {
      val conf = new Configuration(false)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
      sqlDefaults.foreach(e => conf.set(e.key, e.defaultValueString))
      val reader = new Builder(new LocalInputFile(Paths.get(file))).withConf(conf).build()
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
      Iterator.continually(reader.read()).takeWhile(r => r != null || { reader.close(); false })
        .map(enc.createDeserializer())
    }
  }

  // the engine planes' readers, built once per JVM (an encoder costs
  // reflection and analysis): a task closure that names them ships none
  lazy val pending = apply[UrlRecord](PlaneWriter.urlRecordSchema)
  lazy val seen = apply[(Long, String, Int, Int)](PlaneWriter.seenSchema)
  lazy val pace = apply[(Int, Long, Long)](PlaneWriter.paceSchema)
  lazy val hostN = apply[(Int, Long, Long)](PlaneWriter.hostNSchema)
  lazy val pages = apply[FetchResult](PlaneWriter.fetchResultSchema)

  /** The part files under `dirs`, recursively, in name order, skipping
    * hidden and `_` names (a writer's temp file, a commit marker); a
    * missing dir has none. */
  def files(dirs: Seq[String]): Seq[String] = {
    def under(d: java.io.File): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.sortBy(_.getName)
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
        .flatMap(f => if (f.isDirectory) under(f) else Seq(f.getPath))
    dirs.flatMap(d => under(new java.io.File(d)))
  }

  /** The SQL settings Spark's parquet row converter reads without a
    * default, at their defaults. */
  private val sqlDefaults = Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)

  private final class Builder(file: InputFile) extends ParquetReader.Builder[InternalRow](file) {
    override def getReadSupport(): ReadSupport[InternalRow] = new ParquetReadSupport()
  }
}
