package graft.eventstore

import java.nio.file.Path
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
  GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Driver-local parquet writer and small-range reader — no Spark job.
  *
  * The reference's append is a file write + fsync with a p95 < 50 ms
  * load-test envelope (reference load/post-event.js:7-11); launching a
  * Spark job per single-event append costs ~100-300 ms of scheduling
  * before any byte hits disk. Small batches are written directly with
  * parquet-hadoop's Group API instead; large batches (and compaction /
  * streaming ingest) keep the executor path. Readers can't tell the
  * difference: the schema matches what Spark writes for StoredEvent —
  * same names, same nullability, 3-level map encoding — except
  * timestamps are INT64 TIMESTAMP(MICROS, UTC) rather than legacy INT96
  * (both decode to TimestampType, and files of both kinds coexist in one
  * stream). Row-group stats on `revision` still come for free, so the
  * positional-scan pruning is unchanged.
  *
  * Files are opened through parquet's own java.nio `LocalInputFile` /
  * `LocalOutputFile`, not Hadoop's FileSystem: a Hadoop-path reader
  * parses the default configuration XML on every build (~9 ms), and
  * Hadoop's local FileSystem forks a `chmod` process per written file
  * and writes a `.crc` checksum file beside it.
  */
object LocalParquet {

  private val tsMicros = LogicalTypeAnnotation.timestampType(true,
    LogicalTypeAnnotation.TimeUnit.MICROS)

  /** StoredEvent as a parquet MessageType, mirroring Spark's layout. */
  private[eventstore] val schema: MessageType = {
    val b = Types.buildMessage()
    def optStr(name: String) = b.addField(
      Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        .named(name))
    optStr("user_id"); optStr("stream_id")
    b.addField(Types.required(INT64).named("revision"))
    b.addField(Types.required(INT64).as(tsMicros).named("ingest_ts"))
    optStr("specversion"); optStr("id"); optStr("source"); optStr("type")
    optStr("subject")
    b.addField(Types.optional(INT64).as(tsMicros).named("time"))
    optStr("datacontenttype"); optStr("dataschema"); optStr("data")
    b.addField(Types.optional(BINARY).named("data_base64"))
    b.addField(Types.optionalMap()
      .key(BINARY).as(LogicalTypeAnnotation.stringType())
      .optionalValue(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("extensions"))
    b.named("spark_schema")
  }

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  // Plain (not Hadoop) configuration, empty: every option is parquet's
  // default, and neither the reader nor the writer mutates it.
  private val conf = new PlainParquetConfiguration()

  /** Write the batch as one snappy parquet file at `target` (which must
    * not exist — callers go through the store's temp+move protocol). */
  def writeBatch(target: Path, rows: Seq[StoredEvent]): Unit = {
    val writer = ExampleParquetWriter
      .builder(new LocalOutputFile(target))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withType(schema)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = factory.newGroup()
      def str(name: String, v: String): Unit =
        if (v != null) g.append(name, Binary.fromString(v)): Unit
      str("user_id", r.user_id)
      str("stream_id", r.stream_id)
      g.append("revision", r.revision)
      g.append("ingest_ts", micros(r.ingest_ts))
      str("specversion", r.specversion)
      str("id", r.id)
      str("source", r.source)
      str("type", r.`type`)
      r.subject.foreach(str("subject", _))
      r.time.foreach(t => g.append("time", micros(t)): Unit)
      r.datacontenttype.foreach(str("datacontenttype", _))
      r.dataschema.foreach(str("dataschema", _))
      r.data.foreach(str("data", _))
      r.data_base64.foreach(b =>
        g.append("data_base64", Binary.fromConstantByteArray(b)): Unit)
      // always materialize the map group: an omitted optional group
      // reads back as NULL, but StoredEvent's empty-extensions rows are
      // an empty MAP (what Spark's writer emits)
      if (r.extensions != null) {
        val m = g.addGroup("extensions")
        r.extensions.foreach { case (k, v) =>
          val kv = m.addGroup("key_value")
          kv.append("key", Binary.fromString(k))
          if (v != null) kv.append("value", Binary.fromString(v)): Unit
        }
      }
      writer.write(g)
    } finally writer.close()
  }

  /** Read the rows with `revision ∈ [start, end)` from one stream file,
    * driver-locally. The API's positional reads are clamped to ≤1000
    * rows (api.rs:271-272), and the reference serves them at
    * sub-millisecond from its local index (benches/read_benchmark.rs:
    * 14-35 point-reads offset 50k of a 100k stream); scheduling a Spark
    * job per point read costs 100-600 ms before a byte is touched. The
    * revision predicate is pushed as a parquet filter, so row-group
    * stats prune exactly like Spark's scan does. Reads BOTH file kinds
    * a stream can contain: LocalParquet's own (INT64 micros timestamps)
    * and Spark-written compaction/large-batch output (possibly INT96).
    */
  def readRange(file: Path, start: Long, end: Long): Seq[StoredEvent] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    if (end <= start) return Nil
    val rev = FilterApi.longColumn("revision")
    val pred = FilterApi.and(
      FilterApi.gtEq(rev, java.lang.Long.valueOf(start)),
      FilterApi.lt(rev, java.lang.Long.valueOf(end)))
    val builder = new ParquetReader.Builder[Group](
        new LocalInputFile(file), conf) {
      override def getReadSupport() = new GroupReadSupport()
    }
    val reader = builder.withFilter(FilterCompat.get(pred)).build()
    val out = Seq.newBuilder[StoredEvent]
    try {
      var g = reader.read()
      while (g != null) {
        // record-level filtering already applied; the explicit guard
        // keeps correctness independent of reader defaults
        val r = toStored(g)
        if (r.revision >= start && r.revision < end) out += r
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  private def fromMicros(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Legacy parquet INT96: 8 bytes nanos-of-day + 4 bytes julian day,
    * both little-endian (what Spark may write for TimestampType). */
  private def fromInt96(b: Binary): java.sql.Timestamp = {
    val buf = b.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    val epochDay = julianDay - 2440588L // julian day of 1970-01-01
    fromMicros(epochDay * 86400000000L + nanosOfDay / 1000L)
  }

  private def toStored(g: Group): StoredEvent = {
    val schema = g.getType
    def has(n: String) =
      schema.containsField(n) && g.getFieldRepetitionCount(n) > 0
    def str(n: String) = if (has(n)) g.getString(n, 0) else null
    def optStr(n: String) = Option(str(n))
    def ts(n: String): Option[java.sql.Timestamp] =
      if (!has(n)) None
      else Some(schema.getType(n).asPrimitiveType()
          .getPrimitiveTypeName match {
        case INT96 => fromInt96(g.getInt96(n, 0))
        case _ => fromMicros(g.getLong(n, 0))
      })
    val extensions =
      if (!has("extensions")) Map.empty[String, String]
      else {
        val m = g.getGroup("extensions", 0)
        (0 until m.getFieldRepetitionCount("key_value")).map { i =>
          val kv = m.getGroup("key_value", i)
          val v = if (kv.getFieldRepetitionCount("value") > 0)
            kv.getString("value", 0) else null
          kv.getString("key", 0) -> v
        }.toMap
      }
    StoredEvent(
      user_id = str("user_id"),
      stream_id = str("stream_id"),
      revision = g.getLong("revision", 0),
      ingest_ts = ts("ingest_ts").getOrElse(
        throw new IllegalStateException("ingest_ts missing")),
      specversion = str("specversion"),
      id = str("id"),
      source = str("source"),
      `type` = str("type"),
      subject = optStr("subject"),
      time = ts("time"),
      datacontenttype = optStr("datacontenttype"),
      dataschema = optStr("dataschema"),
      data = optStr("data"),
      data_base64 =
        if (has("data_base64")) Some(g.getBinary("data_base64", 0).getBytes)
        else None,
      extensions = extensions)
  }
}
