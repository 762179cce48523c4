package graft.engine

import graft.SparkTestSession
import graft.model.{FetchResult, Span, UrlRecord}
import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.scalatest.funsuite.AnyFunSuite

import scala.reflect.runtime.universe.TypeTag

class PlaneWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val urls = Seq(
    UrlRecord(null, "https://例え.jp/パス?q=ü", Long.MinValue, "例え.jp", 3, "follow_links",
      Map.empty, 0, is_seed = true, 0, Long.MaxValue),
    UrlRecord("http://A.example/x#f", "http://a.example/x", Long.MaxValue, "a.example", 0, null,
      Map("k" -> "v", "ключ" -> "значение", "empty" -> "", "none" -> null), -5, is_seed = false,
      Int.MaxValue, Long.MinValue),
    UrlRecord("u", "c", 0L, null, -1, "diet", Map("one" -> "1"), Int.MinValue, is_seed = false,
      -1, 0L))
  val seen = Seq((Long.MinValue, "https://例え.jp/パス", 3, 0),
    (Long.MaxValue, "http://a.example/x", 0, 7), (0L, null, 1, 2))
  val lineage = Seq((0, 1, 2L, 3L, 0L, Long.MaxValue, Long.MinValue), (5, 0, 0L, 0L, 1L, 2L, 3L))
  val fetched = Seq(
    FetchResult("https://例え.jp/パス", "https://例え.jp/パス", Long.MinValue, "例え.jp", 3,
      "follow_links", Map("ключ" -> "значение", "none" -> null), 0, Long.MaxValue, 200,
      from_cache = false, 1L, 2L, 0, 1, "https://例え.jp/パス",
      Seq(Span("text", "本文 ü — 第1段", null, 0), Span("link", "次へ", "/次", Int.MaxValue),
        Span(null, null, null, -1))),
    FetchResult("http://a.example/img", "http://a.example/img", Long.MaxValue, "a.example", 0,
      "media", Map.empty, Int.MaxValue, -1L, 200, from_cache = true, Long.MinValue, Long.MaxValue,
      -1, -1, "http://a.example/img", Nil, "image/png", Array[Byte](0, -1, 127, -128, 10)),
    FetchResult("u", "c", 0L, null, -1, null, Map("k" -> ""), -1, 0L, 404, from_cache = false,
      0L, 0L, 2, 0, null, Nil, null, null))

  def parts(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq.filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet"))

  def hidden(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq.filter(_.getName.startsWith("."))

  def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** `spark.read.parquet` sees the same schema and the same rows in both dirs. */
  def assertSameRead(sparkDir: String, planeDir: String): Unit = {
    val (a, b) = (spark.read.parquet(sparkDir), spark.read.parquet(planeDir))
    assert(b.schema == a.schema)
    assert(sorted(b) == sorted(a))
  }

  test("plane files read back like Spark's own: pending, seen and lineage planes") {
    import spark.implicits._
    val base = SparkTestSession.tmpDir("planes")
    spark.createDataset(urls).write.parquet(s"$base/spark_pending")
    PlaneWriter.writeDir(s"$base/plane_pending", PlaneWriter.urlRecordSchema, urls.iterator)
    assertSameRead(s"$base/spark_pending", s"$base/plane_pending")
    // the engine's typed read path returns the written records
    val typed = spark.read.schema(PlaneWriter.urlRecordSchema).parquet(s"$base/plane_pending")
      .as[UrlRecord].collect().toSeq
    assert(typed.sortBy(_.seq) == urls.sortBy(_.seq))

    spark.createDataset(seen).toDF("url_hash", "canonical", "host_bucket", "wave")
      .write.parquet(s"$base/spark_seen")
    PlaneWriter.writeDir(s"$base/plane_seen", PlaneWriter.seenSchema, seen.iterator)
    assertSameRead(s"$base/spark_seen", s"$base/plane_seen")

    spark.createDataset(lineage)
      .toDF("wave", "partition_id", "in_count", "fetched", "errors", "deduped_wave", "novel_wave")
      .write.parquet(s"$base/spark_lineage")
    PlaneWriter.writeDir(s"$base/plane_lineage", PlaneWriter.lineageSchema, lineage.iterator)
    assertSameRead(s"$base/spark_lineage", s"$base/plane_lineage")

    // the fetched plane: a list of structs, a binary column, nulls at
    // every level
    spark.createDataset(fetched).write.parquet(s"$base/spark_fetched")
    PlaneWriter.writeDir(s"$base/plane_fetched", PlaneWriter.fetchResultSchema, fetched.iterator)
    assertSameRead(s"$base/spark_fetched", s"$base/plane_fetched")
    val back = spark.read.schema(PlaneWriter.fetchResultSchema).parquet(s"$base/plane_fetched")
      .as[FetchResult].collect().toSeq.sortBy(_.seq)
    assert(back.map(_.copy(media_bytes = null)) == fetched.sortBy(_.seq).map(_.copy(media_bytes = null)))
    assert(back.map(r => Option(r.media_bytes).map(_.toSeq)) ==
      fetched.sortBy(_.seq).map(r => Option(r.media_bytes).map(_.toSeq)))

    for (p <- Seq("pending", "seen", "lineage", "fetched")) {
      assert(parts(s"$base/plane_$p").length == 1)
      assert(hidden(s"$base/plane_$p").isEmpty) // the temp file was renamed
    }
  }

  test("an empty plane leaves exactly one part file, with a footer Spark reads") {
    import spark.implicits._
    val base = SparkTestSession.tmpDir("emptyplane")
    spark.createDataset(Seq.empty[UrlRecord]).write.parquet(s"$base/spark")
    PlaneWriter.writeDir(s"$base/plane", PlaneWriter.urlRecordSchema, Iterator.empty)
    assert(parts(s"$base/plane").length == 1)
    assertSameRead(s"$base/spark", s"$base/plane")
    assert(spark.read.parquet(s"$base/plane").count() == 0L)

    // a checkpoint task with no rows: task 0 writes every plane, other
    // tasks write none
    val dirs = PlaneWriter.Dirs(s"$base/p", s"$base/s", Some(s"$base/pace"), Some(s"$base/hostn"))
    dirs.all.foreach(PlaneWriter.clear)
    PlaneWriter.checkpointTask(1, Iterator.empty, dirs, sinceWave = -1)
    assert(dirs.all.forall(d => parts(d).isEmpty && hidden(d).isEmpty))
    PlaneWriter.checkpointTask(0, Iterator.empty, dirs, sinceWave = -1)
    assert(dirs.all.forall(d => parts(d).length == 1))
    assert(spark.read.parquet(s"$base/pace").columns.toSeq ==
      Seq("host_bucket", "host_hash", "next_allowed_ms"))
    assert(spark.read.parquet(s"$base/hostn").count() == 0L)
  }

  test("writing the same task index twice leaves one file per plane, the second attempt's") {
    val base = SparkTestSession.tmpDir("retry")
    val dirs = PlaneWriter.Dirs(s"$base/pending", s"$base/seen", None, None)
    dirs.all.foreach(PlaneWriter.clear)
    def bucket(b: Int, canon: String, wave: Int): BucketSeen = {
      val set = new graft.seen.SeenSet128(16)
      val h = graft.urls.UrlCanon.urlHash(canon)
      set.add(h, graft.urls.UrlCanon.urlHash2(canon))
      BucketSeen(b, set, List(graft.seen.SeenChunk.pack(wave, Array(h), Array(canon))), 1L)
    }
    def attempt(canon: String): Unit = {
      val rows: Iterator[(Int, AnyRef)] =
        Iterator((2, bucket(2, canon, 1)), (2, urls.head.copy(canonical = canon)))
      PlaneWriter.checkpointTask(0, rows, dirs, sinceWave = 0)
    }
    attempt("https://first.example/")
    attempt("https://second.example/")
    import spark.implicits._
    for (d <- dirs.all) {
      assert(parts(d).length == 1, d)
      assert(hidden(d).isEmpty, d)
      assert(spark.read.parquet(d).select($"canonical").as[String].collect().toSeq ==
        Seq("https://second.example/"))
    }
  }

  /** The rows of `dirs` through [[PlaneReader]] and through `spark.read`,
    * each as `show` renders it, sorted. */
  def bothReads[A: TypeTag: Encoder](schema: org.apache.spark.sql.types.StructType, dirs: Seq[String],
      show: A => String = (a: A) => a.toString): (Seq[String], Seq[String]) = {
    val reader = PlaneReader[A](schema)
    val planes = PlaneReader.files(dirs).flatMap(reader).map(show).sorted
    val sparks = spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(dirs: _*)
      .as[A].collect().toSeq.map(show).sorted
    (planes, sparks)
  }

  test("the plane reader returns spark.read's rows: pending, seen, pace, hostN and fetched planes") {
    import spark.implicits._
    val base = SparkTestSession.tmpDir("reader")
    val hosts = Seq((3, Long.MinValue, Long.MaxValue), (0, 0L, -1L), (-1, 1L, 0L))
    // null optional fields, non-ASCII canonicals, empty meta and spans
    val planes: Seq[(String, org.apache.spark.sql.types.StructType, Seq[Product])] = Seq(
      ("pending", PlaneWriter.urlRecordSchema, urls), ("seen", PlaneWriter.seenSchema, seen),
      ("pace", PlaneWriter.paceSchema, hosts), ("hostn", PlaneWriter.hostNSchema, hosts),
      ("fetched", PlaneWriter.fetchResultSchema, fetched))
    for ((name, schema, rows) <- planes; empty <- Seq(false, true)) {
      val dir = s"$base/$name$empty"
      PlaneWriter.writeDir(dir, schema, if (empty) Iterator.empty else rows.iterator)
      val (got, want) = name match {
        case "pending" => bothReads[UrlRecord](schema, Seq(dir))
        case "seen" => bothReads[(Long, String, Int, Int)](schema, Seq(dir))
        case "pace" | "hostn" => bothReads[(Int, Long, Long)](schema, Seq(dir))
        case "fetched" => bothReads[FetchResult](schema, Seq(dir),
          fr => fr.copy(media_bytes = null).toString + Option(fr.media_bytes).map(_.toSeq))
      }
      assert(got == want, s"$name, empty $empty")
      assert(got.length == (if (empty) 0 else rows.length), s"$name, empty $empty")
    }
    assert(bothReads[UrlRecord](PlaneWriter.urlRecordSchema, Seq(s"$base/pendingfalse"))._1 ==
      urls.map(_.toString).sorted)
  }

  test("the plane reader skips hidden and _ files, recurses into dirs and reads a retried part once") {
    import spark.implicits._
    val base = SparkTestSession.tmpDir("readerdirs")
    val dirs = PlaneWriter.Dirs(s"$base/w/pending", s"$base/w/seen", None, None)
    dirs.all.foreach(PlaneWriter.clear)
    // a retried task attempt replaces the first attempt's part file
    for (canon <- Seq("https://first.example/", "https://второй.example/")) {
      PlaneWriter.checkpointTask(0, Iterator((1, urls.head.copy(canonical = canon))), dirs, -1)
    }
    // a task killed mid-write leaves its hidden temp file; a Spark write
    // leaves a marker
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dirs.pending, ".part-00000-c000.snappy.parquet.crashed.tmp"), "torn")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dirs.pending, "_SUCCESS"), "")
    assert(PlaneReader.files(Seq(s"$base/w")) ==
      Seq(s"${dirs.pending}/part-00000-c000.snappy.parquet", s"${dirs.seen}/part-00000-c000.snappy.parquet"))
    val (got, want) = bothReads[UrlRecord](PlaneWriter.urlRecordSchema, Seq(dirs.pending))
    assert(got == want && got == Seq(urls.head.copy(canonical = "https://второй.example/").toString))
    assert(PlaneReader.files(Seq(s"$base/missing")).isEmpty)
  }
}
