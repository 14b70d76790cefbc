package graft.eventstore

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import scala.jdk.CollectionConverters._

/** The driver-local parquet path on its own: what it writes reads back
  * field for field, Spark reads the same rows from it, and its range
  * reader agrees with Spark's revision filter on Spark-written
  * (INT96-timestamp) compaction output. */
class LocalParquetSpec extends SparkSuite {
  import spark.implicits._

  private def ts(millis: Long, micros: Int = 0): Timestamp = {
    val t = new Timestamp(millis)
    t.setNanos(t.getNanos + micros * 1000)
    t
  }

  /** Every field set, and each nullable one left out somewhere. */
  private val rows: Seq[StoredEvent] = (0 until 12).map { i =>
    StoredEvent(
      user_id = "u1",
      stream_id = "s1",
      revision = i.toLong,
      ingest_ts = ts(1700000000000L + i * 1000L, micros = 123 + i),
      specversion = "1.0",
      id = s"id-$i",
      source = "test://local-parquet",
      `type` = "dev.graft.test",
      subject = if (i % 3 == 0) None else Some(s"subject-$i"),
      time = i % 4 match {
        case 0 => None
        case 1 => Some(ts(-1500L)) // before the epoch
        case _ => Some(ts(1600000000000L + i, micros = 7))
      },
      datacontenttype = if (i % 2 == 0) Some("application/json") else None,
      dataschema = if (i == 5) Some("https://example.com/schema") else None,
      data = if (i % 5 == 0) None else Some(s"""{"i":$i,"s":"ü"}"""),
      data_base64 =
        if (i % 3 == 1) Some(Array[Byte](0, -1, 127, i.toByte)) else None,
      extensions = i % 3 match {
        case 0 => Map.empty
        case 1 => Map("k" -> s"v$i", "nullvalue" -> null)
        case _ => Map("k" -> s"v$i")
      })
  }

  /** StoredEvent holds an Array[Byte], which compares by reference. */
  private def norm(r: StoredEvent) =
    (r.user_id, r.stream_id, r.revision, r.ingest_ts, r.specversion, r.id,
      r.source, r.`type`, r.subject, r.time, r.datacontenttype,
      r.dataschema, r.data, r.data_base64.map(_.toSeq), r.extensions)

  private def written(prefix: String): Path = {
    val target = Paths.get(tempDir(prefix)).resolve("batch.parquet")
    LocalParquet.writeBatch(target, rows)
    target
  }

  private def listNames(dir: Path): List[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toList.sorted
    finally ls.close()
  }

  test("round trip keeps every StoredEvent field, null and empty values " +
      "included") {
    val file = written("lp-roundtrip-")
    val back = LocalParquet.readRange(file, Long.MinValue, Long.MaxValue)
    assert(back.map(norm) == rows.map(norm))
    // the edge cases are really in the data, not just allowed by it
    assert(back.exists(_.extensions.isEmpty))
    assert(back.exists(_.extensions.get("nullvalue").contains(null)))
    assert(back.exists(r => r.subject.isEmpty && r.time.isEmpty))
    assert(back.exists(_.data.isEmpty))
    assert(back.exists(_.data_base64.exists(_.toSeq == Seq[Byte](0, -1,
      127, 1))))
  }

  test("writeBatch leaves exactly one file in the target directory") {
    val file = written("lp-one-file-")
    assert(listNames(file.getParent) == List("batch.parquet"))
  }

  test("Spark reads the same rows from a LocalParquet file") {
    val file = written("lp-spark-reads-")
    val viaSpark = spark.read.parquet(file.toString).as[StoredEvent]
      .collect().toSeq.sortBy(_.revision)
    assert(viaSpark.map(norm) == rows.map(norm))
  }

  test("readRange on Spark-written compaction output (INT96 timestamps) " +
      "returns the rows of Spark's revision filter, boundaries included") {
    val out = Paths.get(tempDir("lp-spark-written-")).resolve("out")
    // the shape compaction writes: revision-sorted, one file
    rows.toDS().orderBy($"revision").coalesce(1)
      .write.parquet(out.toString)
    val file = out.resolve(listNames(out).find(_.endsWith(".parquet")).get)
    val fileSchema = {
      val r = ParquetFileReader.open(new LocalInputFile(file))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    assert(fileSchema.getType(fileSchema.getFieldIndex("ingest_ts"))
      .asPrimitiveType().getPrimitiveTypeName == PrimitiveTypeName.INT96)
    val all = spark.read.parquet(file.toString).as[StoredEvent]
    val n = rows.size.toLong
    val ranges = Seq((0L, n), (0L, 1L), (n - 1, n), (3L, 7L), (4L, 5L),
      (-5L, 2L), (n - 2, n + 5), (n, n + 5), (5L, 5L), (7L, 3L))
    ranges.foreach { case (start, end) =>
      val expected = all
        .filter($"revision" >= start && $"revision" < end)
        .collect().toSeq.sortBy(_.revision)
      val got = LocalParquet.readRange(file, start, end)
      assert(got.map(norm) == expected.map(norm), s"range [$start, $end)")
    }
    // and the expected rows are the written ones: INT96 decodes exactly
    assert(LocalParquet.readRange(file, 0L, n).map(norm) == rows.map(norm))
  }
}
