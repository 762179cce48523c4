package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.model.UrlRecord
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.conf.{ParquetConfiguration, PlainParquetConfiguration}
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{GroupType, MessageType}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types._

/**
 * Task-side parquet for the checkpoint planes (`pending_w*`, `seen/flush_*`,
 * `pace_w*`, `hostn_w*`, `lineage/upto_*`). A Dataset write pays Spark
 * SQL's fixed per-write cost (planning, a job, a commit protocol) for each
 * plane; on a short crawl that cost, not the rows, was most of the time
 * outside the waves. Here one Spark job writes every plane of a
 * checkpoint ([[checkpointTask]]), and driver-held rows are written with
 * no job at all.
 *
 * The files read back exactly as Spark's own: the parquet schema is Spark's
 * `SparkToParquetSchemaConverter` applied to the plane's StructType (maps
 * in the standard three-level layout), the footer carries Spark's row
 * metadata, and the codec is Spark's default SNAPPY with parquet-mr's
 * default row-group and page sizes, which are Spark's too.
 *
 * Crash and retry safety: the driver clears a plane's dir before the
 * write; a writer fills a hidden temp file (readers skip names that start
 * with '.') and renames it atomically to `part-<index>-c000.snappy.parquet`,
 * so a retried task attempt replaces its part file instead of adding one.
 */
private[engine] object PlaneWriter {

  val urlRecordSchema: StructType = org.apache.spark.sql.Encoders.product[UrlRecord].schema
  val seenSchema: StructType = StructType(Seq(
    StructField("url_hash", LongType), StructField("canonical", StringType),
    StructField("host_bucket", IntegerType), StructField("wave", IntegerType)))
  val lineageSchema: StructType = StructType(Seq(
    StructField("wave", IntegerType), StructField("partition_id", IntegerType),
    StructField("in_count", LongType), StructField("fetched", LongType),
    StructField("errors", LongType), StructField("deduped_wave", LongType),
    StructField("novel_wave", LongType)))
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
    * hostN files. Seen rows are the log chunks newer than `sinceWave` (the
    * changelog flush). Returns the bytes and rows written, for the task's
    * output metrics. */
  def checkpointTask(index: Int, rows: Iterator[(Int, AnyRef)], dirs: Dirs,
      sinceWave: Int): (Long, Long) = {
    val states = scala.collection.mutable.ArrayBuffer.empty[(Int, BucketSeen)]
    val pending = plane(dirs.pending, index, urlRecordSchema) { p =>
      rows.foreach {
        case (_, r: UrlRecord) => p.write(r)
        case (b, st: BucketSeen) => states += ((b, st))
      }
    }
    val seen = plane(dirs.seen, index, seenSchema) { p =>
      for ((b, st) <- states; ch <- st.log.iterator if ch.wave > sinceWave) {
        var i = 0
        while (i < ch.size) { p.write((ch.hashes(i), ch.canonical(i), b, ch.wave)); i += 1 }
      }
    }
    val pace = dirs.pace.map(plane(_, index, paceSchema) { p =>
      for ((b, st) <- states; (h, ms) <- st.pace) p.write((b, h, ms))
    })
    val hostN = dirs.hostN.map(plane(_, index, hostNSchema) { p =>
      for ((b, st) <- states; (h, n) <- st.hostN) p.write((b, h, n))
    })
    (Seq(pending, seen) ++ pace ++ hostN).foldLeft((0L, 0L)) { (acc, w) =>
      (acc._1 + w._1, acc._2 + w._2)
    }
  }

  /** Writes part file `index` of `dir` with `fill` and commits it:
    * (bytes, rows). The file opens at its first row; index 0 always
    * writes one, so an empty plane still has one footer-bearing file. */
  private def plane(dir: String, index: Int, schema: StructType)(fill: Part => Unit): (Long, Long) = {
    val p = new Part(dir, index, schema)
    try { fill(p); if (index == 0) p.open(); p.commit() }
    catch { case t: Throwable => p.abort(); throw t }
  }

  /** Part file `index` of `dir`: opened lazily, written to a hidden temp
    * file, renamed into place by [[commit]]. */
  private final class Part(dir: String, index: Int, schema: StructType) {
    private val target: Path = Paths.get(dir, f"part-$index%05d-c000.snappy.parquet")
    private val tmp: Path = Paths.get(dir, s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    private var writer: ParquetWriter[Product] = _
    private var rows = 0L

    def open(): Unit = if (writer == null) {
      writer = new Builder(new LocalOutputFile(tmp), new ProductWriteSupport(schema))
        .withConf(new PlainParquetConfiguration())
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
        .build()
    }

    def write(row: Product): Unit = { open(); writer.write(row); rows += 1 }

    /** Closes an opened file and renames it into place: (bytes, rows). */
    def commit(): (Long, Long) =
      if (writer == null) (0L, 0L)
      else {
        writer.close()
        writer = null
        val bytes = Files.size(tmp)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        (bytes, rows)
      }

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

  /** Writes a Product whose elements follow `schema`, in order: the
    * planes' Int, Long, Boolean, String and string-map fields. A null
    * element is an absent optional field, as Spark writes it. */
  private final class ProductWriteSupport(schema: StructType) extends WriteSupport[Product] {
    private val message: MessageType = new SparkToParquetSchemaConverter().convert(schema)
    private val names = schema.fieldNames
    private var rc: RecordConsumer = _
    private val writers: Array[Any => Unit] =
      schema.fields.indices.map(i => writerOf(schema.fields(i).dataType, message.getType(i))).toArray

    private def writerOf(t: DataType, pt: org.apache.parquet.schema.Type): Any => Unit = t match {
      case IntegerType => v => rc.addInteger(v.asInstanceOf[Int])
      case LongType => v => rc.addLong(v.asInstanceOf[Long])
      case BooleanType => v => rc.addBoolean(v.asInstanceOf[Boolean])
      case StringType => v => rc.addBinary(Binary.fromString(v.asInstanceOf[String]))
      case MapType(kt, vt, _) =>
        // Spark's standard layout: group (MAP) { repeated group key_value
        // { key; value } }, with an empty map an empty group
        val kv: GroupType = pt.asGroupType().getType(0).asGroupType()
        val (kvName, kName, vName) = (kv.getName, kv.getType(0).getName, kv.getType(1).getName)
        val (kw, vw) = (writerOf(kt, kv.getType(0)), writerOf(vt, kv.getType(1)))
        v => {
          val m = v.asInstanceOf[scala.collection.Map[Any, Any]]
          rc.startGroup()
          if (m.nonEmpty) {
            rc.startField(kvName, 0)
            m.foreach { case (k, x) =>
              rc.startGroup()
              rc.startField(kName, 0); kw(k); rc.endField(kName, 0)
              if (x != null) { rc.startField(vName, 1); vw(x); rc.endField(vName, 1) }
              rc.endGroup()
            }
            rc.endField(kvName, 0)
          }
          rc.endGroup()
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
      var i = 0
      while (i < writers.length) {
        val v = p.productElement(i)
        if (v != null) {
          rc.startField(names(i), i)
          writers(i)(v)
          rc.endField(names(i), i)
        }
        i += 1
      }
      rc.endMessage()
    }
  }
}
