package graft.eventstore

import graft.functions.Base32
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The event-store engine: an append-only, per-stream-ordered table of
  * CloudEvents with optimistic concurrency — the reference's storage
  * engine (src/db.rs) re-expressed on Spark primitives.
  *
  * Layout: one directory per stream, `root/<base32(user)>/<base32(stream)>/`
  * (mirroring reference src/server.rs:134-144), holding
  *  - `batch-<firstRev>-<lastRev>-<uuid>.parquet` — one data file per
  *    committed batch (revision-sorted within the file);
  *  - `keys-<firstRev>-<lastRev>-<uuid>.keys` — an 8-byte-per-event
  *    sidecar of (source,id) key hashes, the commit-time key digest;
  *  - `manifest-<version>.log` — a tiny versioned transaction log entry
  *    listing the stream's committed revision and its exact data/key
  *    file sets.
  *
  * Commit protocol (the genuinely custom part, SURVEY.md §7 step 2):
  * a writer reads the head manifest, validates CAS + (source,id)
  * uniqueness, writes its data+keys files (invisible to readers — they
  * only read files listed in a manifest), then claims
  * `manifest-<head+1>.log` via an atomic create-if-absent (hard link of
  * a fully-written temp file). Exactly one writer can create a given
  * version, so the manifest link is the *arbiter* of every commit:
  * correctness no longer depends on JVM-local locks, and two EventStore
  * instances (two processes) over the same root serialize correctly.
  * The JVM-local per-stream lock remains purely as a fast path to avoid
  * wasted work between threads of one process — the same role the
  * reference's `Arc<Mutex<Database>>` plays (src/server.rs:58, 184).
  * A crashed commit leaves an orphaned, unreferenced data file that no
  * reader ever sees; it is garbage-collected by a later compaction.
  * On an object store the hard-link claim swaps for a conditional put
  * (if-none-match) with the protocol otherwise unchanged.
  *
  * (source,id) dedup (the reference's specified-but-unimplemented O14,
  * SURVEY.md §0) costs no Spark job on the hot path: the in-memory
  * digest (built incrementally from `keys-*.keys` sidecars, cached per
  * manifest version) answers "definitely fresh" in O(batch); only a
  * digest *hit* falls back to an exact pruned scan of the committed
  * files to distinguish a true duplicate from a 64-bit hash collision.
  *
  * Scale: reads are DataFrame queries over the manifest's file list —
  * partition pruning on the stream directory replaces the reference's
  * u64 offset index (src/db.rs:147-161); parquet row-group stats on
  * `revision` (sorted within every batch file) give the positional
  * seek. `streams()` metadata listing touches manifests and file sizes
  * only — zero parquet footers. The digest costs ~48 bytes/key in
  * memory per *hot* stream (cold streams hold nothing) and graduates to
  * a Bloom filter past [[EventStore.BloomTierKeys]] keys (~1.2
  * bytes/key; see digestFor).
  */
class EventStore(val spark: SparkSession, rootDir: String,
    val options: StoreOptions = StoreOptions()) {
  import spark.implicits._
  import EventStore._

  private val root = Paths.get(rootDir)
  Files.createDirectories(root)

  /** JVM-local per-stream write locks (fast-path only; see scaladoc). */
  private val locks = new ConcurrentHashMap[String, Object]()
  /** per-stream key digest cache, validated by manifest version. */
  private val digests = new ConcurrentHashMap[String, DigestCache]()
  /** per-stream last-known head VERSION (see readHead — only the
    * version number is cached, never parsed content). */
  private val heads = new ConcurrentHashMap[Path, java.lang.Long]()

  private def key(u: String, s: String) = s"$u\u0000$s"
  private def lockFor(u: String, s: String): Object =
    locks.computeIfAbsent(key(u, s), _ => new Object)

  private def userPath(u: String): Path = root.resolve(Base32.encodeString(u))
  private def streamPath(u: String, s: String): Path =
    userPath(u).resolve(Base32.encodeString(s))

  /** Test seam: counts directory listings (the O(#entries) filesystem
    * op) so point-lookup paths can assert they never enumerate. */
  private[eventstore] val dirListCount =
    new java.util.concurrent.atomic.AtomicLong()

  /** List a directory's entries with the stream closed eagerly (never
    * leak the fd — every directory walk in the store goes through here). */
  private def listDir(dir: Path): List[Path] = {
    dirListCount.incrementAndGet()
    if (!Files.isDirectory(dir)) Nil
    else Using.resource(Files.list(dir))(_.iterator().asScala.toList)
  }

  /** Read the head (highest-version) manifest of a stream, or None if
    * the stream has never committed — the analogue of
    * revision-from-index-length (reference src/db.rs:103-113).
    *
    * Hot-path shortcut: manifest versions are DENSE (every commit
    * claims exactly head+1) and GC prunes manifests oldest-first, so
    * "manifest-(v+1) absent ∧ manifest-v present" proves v is the
    * head. The cache therefore remembers ONLY the last-known head
    * version; content is always re-parsed from the (small, immutable)
    * manifest file — one stat + one O(100-byte) read instead of the
    * O(#files) directory listing, and nothing stale can ever be
    * served. (An earlier design cached parsed content keyed by the
    * manifest's inode; tmpfs RECYCLES inodes, so a delete-then-
    * recreate could revive a dead manifest — found by SoakSpec.)
    * External writers stay visible immediately: every probe goes to
    * the filesystem. */
  private def readHead(dir: Path): Option[Manifest] = {
    val v = heads.get(dir)
    if (v != null &&
        !Files.exists(dir.resolve(manifestName(v + 1)))) {
      try return Some(parseManifest(dir.resolve(manifestName(v))))
      catch { case _: java.io.IOException => () } // vanished: fall through
    }
    val head = listDir(dir).flatMap(p => p.getFileName.toString match {
      case ManifestFile(mv) => Some(mv.toLong)
      case _ => None
    }).maxOption
    head.map { hv =>
      val m = parseManifest(dir.resolve(manifestName(hv)))
      heads.put(dir, hv)
      m
    }
  }

  /** Current revision = number of committed events (0 = no stream).
    * Always read from the manifest head so commits by *other processes*
    * are visible immediately. */
  def revision(u: String, s: String): Long =
    readHead(streamPath(u, s)).map(_.revision).getOrElse(0L)

  def streamExists(u: String, s: String): Boolean =
    revision(u, s) > 0

  /** The key digest for a stream at a given head, built from the keys
    * sidecars and loaded incrementally (only sidecars not already
    * cached are read — one small sidecar per commit since the last
    * call). Two tiers: an exact 64-bit hash set for ordinary streams,
    * and a Bloom filter once the key count passes
    * [[EventStore.BloomTierKeys]] (~48 bytes/key exact vs ~1.2
    * bytes/key bloom at 1% fpp — the difference between 5 GB and 120 MB
    * for a 100M-event stream). A bloom false positive only costs an
    * exact confirm scan, which the digest-hit path runs anyway, so the
    * dedup result is identical in both tiers. Callers hold the stream's
    * write lock, so in-place catch-up is safe. */
  private def digestFor(u: String, s: String, dir: Path,
      head: Option[Manifest]): KeyDigest = {
    val m = head.getOrElse(return KeyDigest.empty())
    val cached = digests.get(key(u, s))
    // validity needs the version AND the exact sidecar set: a stream
    // deleted and rebuilt elsewhere can reach the SAME version number
    // with different contents, and a version-only check would serve the
    // old incarnation's digest (false negatives → duplicate commits).
    // The uuid-named keyFiles identify the incarnation exactly.
    if (cached != null && cached.version == m.version &&
        cached.loadedFiles == m.keyFiles.toSet) return cached.digest
    val (base, loaded) = cached match {
      // incremental: the cached sidecars are a prefix of the head's
      // (append-only history) — only read what's new
      case c: DigestCache if c.loadedFiles.forall(m.keyFiles.contains) =>
        (c.digest, c.loadedFiles)
      // compaction / external rewrite replaced the sidecars: rebuild
      case _ => (KeyDigest.empty(), Set.empty[String])
    }
    var digest = base
    m.keyFiles.filterNot(loaded).foreach { kf =>
      readKeyFile(dir.resolve(kf)).foreach(h => digest = digest.add(h))
    }
    digests.put(key(u, s), DigestCache(m.version, m.keyFiles.toSet, digest))
    digest
  }

  /** Exact membership check for the (rare) digest-hit path: scan only
    * the committed files' (source,id) columns for the suspect keys.
    * Returns the keys that are genuinely already committed. */
  private def confirmCommitted(dir: Path, head: Manifest,
      suspects: Seq[(String, String)]): Set[(String, String)] = {
    if (suspects.isEmpty || head.files.isEmpty) return Set.empty
    val files = head.files.map(f => dir.resolve(f).toString)
    val sdf = suspects.toDF("source", "id")
    spark.read.parquet(files: _*).select($"source", $"id")
      .join(broadcast(sdf), Seq("source", "id"), "left_semi")
      .distinct().as[(String, String)].collect().toSet
  }

  /** Append a batch with CAS + (source,id) dedup; returns the new
    * revision. Mirrors reference src/db.rs:180-240 step for step, with
    * the manifest link as the commit arbiter (multi-process safe). */
  def append(u: String, s: String, events: Seq[CloudEvent],
      expected: ExpectedRevision = ExpectedRevision.Any): Long = {
    if (events.isEmpty) throw EmptyAppend // db.rs:185
    // intra-batch (source,id) uniqueness — O14, closed
    events.groupBy(e => (e.source, e.id)).find(_._2.size > 1)
      .foreach { case ((src, id), _) => throw SourceIdConflict(src, id) }
    lockFor(u, s).synchronized {
      val dir = streamPath(u, s)
      var attempt = 0
      while (true) {
        val head = readHead(dir)
        val current = head.map(_.revision).getOrElse(0L)
        expected match { // db.rs:189-198
          case ExpectedRevision.Any =>
          case ExpectedRevision.NoStream =>
            if (current != 0) throw RevisionMismatch(expected, current)
          case ExpectedRevision.StreamExists =>
            if (current == 0) throw RevisionMismatch(expected, current)
          case ExpectedRevision.Exact(n) =>
            if (current != n) throw RevisionMismatch(expected, current)
        }
        // batch-vs-committed dedup: digest first (no Spark job), exact
        // confirm only on digest hit
        val digest = digestFor(u, s, dir, head)
        val hits = events.filter(e => digest.contains(keyHash(e.source, e.id)))
        if (hits.nonEmpty) {
          val committed = confirmCommitted(dir, head.get,
            hits.map(e => (e.source, e.id)))
          committed.headOption.foreach { case (src, id) =>
            throw SourceIdConflict(src, id) }
        }
        commitAttempt(u, s, dir, head, events) match {
          case Some(newRev) => return newRev
          case None => // lost the manifest race to another process
            attempt += 1
            if (attempt > 10) throw new IllegalStateException(
              s"append to $u/$s: lost the commit race $attempt times")
          // loop: re-read head, re-validate CAS + dedup
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Idempotent append for at-least-once delivery (streaming retries):
    * events whose (source,id) are already committed are silently dropped
    * instead of raising SourceIdConflict, so re-delivering a micro-batch
    * converges to exactly-once. Returns the stream revision after the
    * (possibly empty) effective append. Intra-batch duplicates are still
    * an error — retries re-deliver whole batches, they don't duplicate
    * within one. */
  def appendIdempotent(u: String, s: String, events: Seq[CloudEvent])
      : Long =
    lockFor(u, s).synchronized {
      if (events.isEmpty) return revision(u, s)
      events.groupBy(e => (e.source, e.id)).find(_._2.size > 1)
        .foreach { case ((src, id), _) => throw SourceIdConflict(src, id) }
      val dir = streamPath(u, s)
      var attempt = 0
      while (true) {
        val head = readHead(dir)
        val digest = digestFor(u, s, dir, head)
        val hits = events.filter(e => digest.contains(keyHash(e.source, e.id)))
        val committed =
          if (hits.isEmpty) Set.empty[(String, String)]
          else confirmCommitted(dir, head.get, hits.map(e => (e.source, e.id)))
        val fresh = events.filterNot(e => committed((e.source, e.id)))
        if (fresh.isEmpty) return head.map(_.revision).getOrElse(0L)
        commitAttempt(u, s, dir, head, fresh) match {
          case Some(newRev) => return newRev
          case None =>
            attempt += 1
            if (attempt > 10) throw new IllegalStateException(
              s"ingest to $u/$s: lost the commit race $attempt times")
        }
      }
      throw new IllegalStateException("unreachable")
    }

  /** Commit a streaming micro-batch (wire-parsed rows, see
    * Streams.parseWire) without funneling event bytes through the
    * driver — the scale-safe ingest path:
    *
    *  1. rows with no routing identity (null user_id / stream_id / id /
    *     source — including fully malformed JSON) are appended to the
    *     dead-letter directory instead of poisoning the query;
    *  2. a metadata pass ships ONLY per-stream counts and 8-byte key
    *     hashes to the driver (the digest dedup input — bytes stay out);
    *  3. executors write one revision-assigned, revision-sorted parquet
    *     file per stream (repartition by stream key + partitionBy), with
    *     base revisions and confirmed-duplicate drops broadcast in;
    *  4. the driver then commits each staged file with a metadata-only
    *     manifest claim. A concurrent external commit (version moved
    *     under us) falls back to the per-stream idempotent append for
    *     just that stream.
    *
    * Returns the number of events committed (after dedup). At true
    * multi-writer scale the per-stream commit loop shards with the
    * streams themselves — the claim is per stream, nothing global. */
  def ingestBatch(batch: DataFrame, deadLetterDir: Option[String] = None,
      autoCompactAfter: Int = -1): Long = {
    // negative = defer to the store's configured policy
    val compactCap =
      if (autoCompactAfter < 0) options.autoCompactAfter
      else autoCompactAfter
    import org.apache.spark.sql.expressions.Window
    val sess = batch.sparkSession
    val cached = batch.persist()
    // frames persisted mid-ingest (distributed-dedup suspects) —
    // released with the batch cache
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      val invalid = $"user_id".isNull || $"stream_id".isNull ||
        $"id".isNull || $"source".isNull
      deadLetterDir.foreach { d =>
        val bad = cached.filter(invalid)
        val asLine = to_json(struct(cached.columns.filter(_ != "_raw")
          .map(col).toSeq: _*))
        val line =
          if (cached.columns.contains("_raw")) coalesce(col("_raw"), asLine)
          else asLine
        if (!bad.isEmpty)
          bad.select(line.as("value")).write.mode(SaveMode.Append).text(d)
      }
      // within-batch (source,id) dedup: re-delivered wire events are the
      // same event by CloudEvents §3 — keep one
      val good = cached.filter(!invalid)
        .dropDuplicates("user_id", "stream_id", "source", "id")
      // native codegen'd key hash — the metadata pass runs as one
      // whole-stage-codegen span, no per-row UDF deopt
      def kh(src: Column, id: Column): Column = {
        import org.apache.spark.sql.GraftColumnBridge
        GraftColumnBridge.column(graft.expressions.KeyHash64(
          GraftColumnBridge.expression(src),
          GraftColumnBridge.expression(id)))
      }
      // Per-stream counts first — bounded by #streams, never by events.
      // The batch total picks the metadata path: API-sized batches (the
      // design point — HTTP appends, micro-batches) collect one 8-byte
      // key hash per event to the driver; a bulk backfill above
      // options.ingestDriverMaxKeys would put GBs on the driver, so it
      // takes the distributed path below — committed-key sidecars are
      // read on executors and joined against the batch, and the fresh
      // sidecars are staged by executors too, keeping driver memory
      // O(#streams) regardless of batch size.
      import sess.implicits.{localSeqToDatasetHolder, newProductEncoder}
      val counts = good.groupBy($"user_id", $"stream_id").count()
        .as[(String, String, Long)].collect()
      if (counts.isEmpty) return 0L
      val driverKeyPath =
        counts.map(_._3).sum <= options.ingestDriverMaxKeys
      // per-stream commit prep: CAS base + confirmed-duplicate drops;
      // freshKeys = None ⇒ the hashes were never driver-materialized
      // and the commit moves the executor-staged sidecar instead
      case class Prep(u: String, s: String, baseVersion: Long, base: Long,
          prevFiles: List[String], prevKeys: List[String],
          dropPairs: Set[(String, String)], freshKeys: Option[Seq[Long]],
          freshCount: Long)
      def prepOf(u: String, s: String, dropPairs: Set[(String, String)],
          freshKeys: Option[Seq[Long]], freshCount: Long): Prep = {
        val head = readHead(streamPath(u, s))
        Prep(u, s, head.map(_.version).getOrElse(0L),
          head.map(_.revision).getOrElse(0L),
          head.map(_.files).getOrElse(Nil),
          head.map(_.keyFiles).getOrElse(Nil), dropPairs, freshKeys,
          freshCount)
      }
      val (preps: Seq[Prep], deduped: DataFrame) =
        if (driverKeyPath) {
          // metadata pass: counts + key hashes only (8 bytes/event)
          val stats = good.groupBy($"user_id", $"stream_id")
            .agg(collect_list(kh($"source", $"id")).as("hashes"))
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getSeq[Long](2)))
          val ps = stats.toSeq.map { case (u, s, hashes) =>
            val dir = streamPath(u, s)
            val head = readHead(dir)
            val digest =
              lockFor(u, s).synchronized(digestFor(u, s, dir, head))
            val hits = hashes.filter(digest.contains(_))
            val dropPairs =
              if (hits.isEmpty) Set.empty[(String, String)]
              else {
                // digest hit → exact confirm against committed
                // (source,id)s; the candidate keys come from a pruned
                // 2-column scan of the *batch* side (small), never a
                // full driver materialization
                val suspects = good
                  .filter($"user_id" === u && $"stream_id" === s &&
                    kh($"source", $"id").isInCollection(hits))
                  .select($"source", $"id").as[(String, String)]
                  .collect().toSeq
                confirmCommitted(dir, head.get, suspects)
              }
            val dropHashes = scala.collection.mutable.Map[Long, Int]()
            dropPairs.foreach { case (src, id) =>
              val h = keyHash(src, id)
              dropHashes(h) = dropHashes.getOrElse(h, 0) + 1
            }
            val freshHashes = hashes.filter { h =>
              val n = dropHashes.getOrElse(h, 0)
              if (n > 0) { dropHashes(h) = n - 1; false } else true
            }
            prepOf(u, s, dropPairs, Some(freshHashes),
              freshHashes.size.toLong)
          }
          val drops = ps.flatMap(p =>
            p.dropPairs.toSeq.map { case (src, id) => (p.u, p.s, src, id) })
          val dd =
            if (drops.isEmpty) good
            else good.join(
              drops.toDF("user_id", "stream_id", "source", "id"),
              Seq("user_id", "stream_id", "source", "id"), "left_anti")
          (ps, dd)
        } else {
          // Distributed dedup for oversized batches: the committed key
          // sidecars (8 bytes/event, exactly what digestFor reads
          // driver-side) become an executor-read frame joined against
          // the batch. A digest hit is a CANDIDATE, not proof — 64-bit
          // hashes can collide — so suspects are exact-confirmed
          // against the committed (source,id) columns (pruned scan of
          // only the suspect streams' data files). O14 dedup stays
          // exact on both paths.
          val streams = counts.map(c => (c._1, c._2)).toSeq
          val keyFiles = streams.flatMap { case (u, s) =>
            readHead(streamPath(u, s)).toSeq.flatMap(m =>
              m.keyFiles.map(kf =>
                (u, s, streamPath(u, s).resolve(kf).toString)))
          }
          val confirmed: Option[DataFrame] =
            if (keyFiles.isEmpty) None
            else {
              val committedKh = keyFiles.toDS()
                .flatMap { case (u, s, p) =>
                  EventStore.readKeyFile(Paths.get(p)).map(h => (u, s, h))
                }
                .toDF("user_id", "stream_id", "__kh")
              val suspects = good
                .withColumn("__kh", kh($"source", $"id"))
                .join(committedKh, Seq("user_id", "stream_id", "__kh"),
                  "left_semi")
                .select($"user_id", $"stream_id", $"source", $"id")
                .persist()
              persisted += suspects
              val suspectStreams = suspects
                .select($"user_id", $"stream_id").distinct()
                .as[(String, String)].collect()
              val dataFiles = suspectStreams.toSeq.flatMap { case (u, s) =>
                readHead(streamPath(u, s)).toSeq.flatMap(m =>
                  m.files.map(f => streamPath(u, s).resolve(f).toString))
              }
              if (dataFiles.isEmpty) None
              else Some(suspects.join(
                sess.read.parquet(dataFiles: _*)
                  .select($"user_id", $"stream_id", $"source", $"id"),
                Seq("user_id", "stream_id", "source", "id"), "left_semi"))
            }
          val dd = confirmed match {
            case None => good
            case Some(c) => good.join(c,
              Seq("user_id", "stream_id", "source", "id"), "left_anti")
          }
          val freshCounts = dd.groupBy($"user_id", $"stream_id").count()
            .as[(String, String, Long)].collect()
            .map { case (u, s, n) => (u, s) -> n }.toMap
          val ps = streams.map { case (u, s) =>
            prepOf(u, s, Set.empty, None, freshCounts.getOrElse((u, s), 0L))
          }
          (ps, dd)
        }
      val now = new Timestamp(System.currentTimeMillis())
      val staging = Files.createTempDirectory(root, ".ingest-")
      try {
        val basesDF = preps.map(p => (p.u, p.s, p.base))
          .toDF("user_id", "stream_id", "__base")
        // native codegen Base32 (not a Scala UDF): keeps the staged-
        // write projection inside whole-stage codegen end-to-end, the
        // same reason the key-hash pass uses KeyHash64
        val b32 = Base32.base32 _
        val w = Window.partitionBy($"user_id", $"stream_id")
          .orderBy(col("time").asc_nulls_first, col("id").asc,
            col("source").asc)
        val staged = deduped
          .join(broadcast(basesDF), Seq("user_id", "stream_id"))
          .withColumn("revision",
            row_number().over(w).cast("long") - 1 + $"__base")
          .withColumn("ingest_ts", lit(now))
          .withColumn("__u32", b32($"user_id"))
          .withColumn("__s32", b32($"stream_id"))
          // cast every column to the StoredEvent schema explicitly — a
          // caller-provided batch may carry NullType/narrower columns,
          // which would otherwise poison the stream's parquet schema
          .select($"__u32", $"__s32",
            $"user_id".cast("string").as("user_id"),
            $"stream_id".cast("string").as("stream_id"),
            $"revision", $"ingest_ts",
            coalesce($"specversion".cast("string"), lit("1.0"))
              .as("specversion"),
            $"id".cast("string").as("id"),
            $"source".cast("string").as("source"),
            col("type").cast("string").as("type"),
            $"subject".cast("string").as("subject"),
            $"time".cast("timestamp").as("time"),
            $"datacontenttype".cast("string").as("datacontenttype"),
            $"dataschema".cast("string").as("dataschema"),
            $"data".cast("string").as("data"),
            $"data_base64".cast("binary").as("data_base64"),
            $"extensions".cast("map<string,string>").as("extensions"))
        // executors write one revision-sorted file per stream
        staged.repartition($"__u32", $"__s32")
          .sortWithinPartitions($"__u32", $"__s32", $"revision")
          .write.partitionBy("__u32", "__s32")
          .mode(SaveMode.Overwrite).parquet(staging.toString)
        if (!driverKeyPath) {
          // oversized batch: the fresh keys sidecars are staged BY
          // EXECUTORS (revision order, same big-endian layout as
          // writeKeyFile) — the driver never materializes a hash per
          // event; commitStaged moves the staged file into place
          val keysRoot = staging.resolve("__keys")
          Files.createDirectories(keysRoot)
          staged.select($"__u32", $"__s32",
              kh($"source", $"id").as("__kh"), $"revision")
            .repartition($"__u32", $"__s32")
            .sortWithinPartitions($"__u32", $"__s32", $"revision")
            .foreachPartition(
              EventStore.stagedKeysWriter(keysRoot.toString))
        }
        // driver: metadata-only manifest commits — independent per
        // stream, so a micro-batch touching thousands of streams
        // commits them in parallel (at true multi-writer scale this
        // loop shards with the streams themselves)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, math.max(1, preps.length)))
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          val futures = preps.map { p =>
            scala.concurrent.Future {
              val partDir = staging
                .resolve(s"__u32=${Base32.encodeString(p.u)}")
                .resolve(s"__s32=${Base32.encodeString(p.s)}")
              val parts = listDir(partDir)
                .filter(_.getFileName.toString.endsWith(".parquet"))
              val n = p.freshCount
              if (n > 0 && parts.nonEmpty) {
                val freshKeys = p.freshKeys.toRight(staging
                  .resolve("__keys")
                  .resolve(s"__u32=${Base32.encodeString(p.u)}")
                  .resolve(s"__s32=${Base32.encodeString(p.s)}")
                  .resolve("keys.bin"))
                val c = commitStaged(p.u, p.s, p.baseVersion, p.base,
                  p.prevFiles, p.prevKeys, freshKeys, n, parts)
                // bound small-file pressure from one-file-per-micro-batch:
                // fold the stream back to one file once it passes the cap
                // (amortized — each compaction covers many commits)
                if (compactCap > 0 &&
                    p.prevFiles.size + 1 >= compactCap)
                  compactStream(p.u, p.s)
                c
              } else 0L
            }
          }
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(futures),
            scala.concurrent.duration.Duration(30, "min")).sum
        } finally pool.shutdown()
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
      }
    } finally {
      persisted.foreach(df => try df.unpersist() catch {
        case _: Throwable => ()
      })
      cached.unpersist()
    }
  }

  /** Test seam: invoked at the top of commitStaged (inside the stream
    * lock, before the head re-read) so races with an external writer —
    * a commit landing between ingest prep and the staged commit — can be
    * triggered deterministically instead of hoping a thread interleaves.
    * Production value is a no-op. */
  private[eventstore] var testHookBeforeCommitStaged
      : (String, String) => Unit = (_, _) => ()

  /** Move one stream's staged file into place and claim the manifest.
    * Falls back to the idempotent append if the stream moved under us
    * (external writer) or the staging produced an unexpected shape. */
  private def commitStaged(u: String, s: String, baseVersion: Long,
      base: Long, prevFiles: List[String], prevKeys: List[String],
      freshKeys: Either[Path, Seq[Long]], freshCount: Long,
      parts: List[Path]): Long =
    lockFor(u, s).synchronized {
      testHookBeforeCommitStaged(u, s)
      val dir = streamPath(u, s)
      val headNow = readHead(dir)
      val fallback = headNow.map(_.version).getOrElse(0L) != baseVersion ||
        parts.size != 1
      if (!fallback) {
        val n = freshCount
        val first = base
        val last = base + n - 1
        Files.createDirectories(dir)
        val uuid = java.util.UUID.randomUUID().toString
        val dataName = s"batch-$first-$last-$uuid.parquet"
        val keysName = s"keys-$first-$last-$uuid.keys"
        Files.move(parts.head, dir.resolve(dataName),
          StandardCopyOption.ATOMIC_MOVE)
        freshKeys match {
          case Right(hashes) => writeKeyFile(dir.resolve(keysName), hashes)
          case Left(stagedKeys) =>
            // oversized-batch path: the sidecar was staged by
            // executors; claim it with the same atomic move as the data
            Files.move(stagedKeys, dir.resolve(keysName),
              StandardCopyOption.ATOMIC_MOVE)
        }
        val m = Manifest(baseVersion + 1, last + 1,
          prevFiles :+ dataName, prevKeys :+ keysName)
        if (tryCommitManifest(dir, m)) {
          // same first-manifest recursion guard as commitAttempt: staged
          // commits never target the catalog today, but the hooks must
          // stay symmetric so a future caller cannot recurse (ADVICE r14)
          if (baseVersion == 0L && dir != catalogDir) {
            catalogOp(CatalogAdd, u, s)
          }
          return n
        }
        // lost the claim: restore the staged file so the fallback below
        // can re-read it, and drop the never-referenced sidecar (the
        // fallback derives its own keys from the re-read events)
        Files.move(dir.resolve(dataName), parts.head,
          StandardCopyOption.ATOMIC_MOVE)
        Files.deleteIfExists(dir.resolve(keysName))
      }
      // rare path: re-append this stream's staged rows idempotently
      val events = spark.read
        .parquet(parts.map(_.toString): _*)
        .orderBy($"revision").as[StoredEvent]
        .collect().toSeq.map(EventStore.toCloudEvent)
      val before = revision(u, s)
      appendIdempotent(u, s, events) - before
    }

  /** One commit attempt on top of `head`: write data + keys files, then
    * claim the next manifest version. Returns the new revision, or None
    * if another writer claimed the version first (files are cleaned up
    * and the caller re-validates). */
  private def commitAttempt(u: String, s: String, dir: Path,
      head: Option[Manifest], events: Seq[CloudEvent]): Option[Long] = {
    val current = head.map(_.revision).getOrElse(0L)
    val now = new Timestamp(System.currentTimeMillis())
    val rows = events.zipWithIndex.map { case (e, i) =>
      StoredEvent(u, s, current + i, now, e.specversion, e.id, e.source,
        e.`type`, e.subject, e.time, e.datacontenttype, e.dataschema,
        e.data, e.data_base64, e.extensions)
    }
    val first = current
    val last = current + events.size - 1
    Files.createDirectories(dir)
    val uuid = java.util.UUID.randomUUID().toString
    val dataName = s"batch-$first-$last-$uuid.parquet"
    val keysName = s"keys-$first-$last-$uuid.keys"
    writeBatchFile(dir.resolve(dataName), rows)
    writeKeyFile(dir.resolve(keysName),
      events.map(e => keyHash(e.source, e.id)))
    val m = Manifest(head.map(_.version + 1).getOrElse(1L), last + 1,
      head.map(_.files).getOrElse(Nil) :+ dataName,
      head.map(_.keyFiles).getOrElse(Nil) :+ keysName)
    if (tryCommitManifest(dir, m)) {
      // stream creation (first manifest) registers in the catalog table;
      // the dir guard keeps the catalog's own commits from recursing
      if (m.version == 1L && dir != catalogDir) catalogOp(CatalogAdd, u, s)
      // the digest cache is now one version behind; digestFor catches up
      // incrementally by reading just the sidecar this commit wrote
      Some(last + 1)
    } else {
      Files.deleteIfExists(dir.resolve(dataName))
      Files.deleteIfExists(dir.resolve(keysName))
      None
    }
  }

  /** Write one batch as a single revision-sorted parquet file via an
    * atomic move (all-or-nothing, and invisible until the manifest
    * lists it). Small batches are written driver-locally with no Spark
    * job (LocalParquet — the reference's append is a plain file write
    * with a p95 < 50 ms envelope, load/post-event.js:7-11; a per-append
    * Spark job would spend 100-300 ms scheduling before the first byte).
    * The local writer creates exactly the temp file and nothing beside
    * it (no checksum sidecar), so after the move the stream directory
    * gains only `target`. Large batches go through executors. */
  private def writeBatchFile(target: Path, rows: Seq[StoredEvent]): Unit =
    if (rows.size <= EventStore.LocalWriteMax) {
      val tmp = Files.createTempFile(target.getParent, ".commit-", ".tmp")
      Files.delete(tmp) // the parquet writer wants to create the file
      try {
        LocalParquet.writeBatch(tmp, rows)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(tmp)
    } else {
      val tmp = Files.createTempDirectory(root, ".commit-")
      try {
        spark.createDataset(rows).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(tmp.resolve("out").toString)
        val part = listDir(tmp.resolve("out"))
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException("no part file written"))
        Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    }

  /** Claim `manifest-<m.version>` atomically: write a temp file, then
    * hard-link it to the versioned name — link creation fails atomically
    * if the version already exists (another writer won). POSIX link(2)
    * is the single-node arbiter; an object store swaps in a conditional
    * put here. */
  private def tryCommitManifest(dir: Path, m: Manifest): Boolean = {
    val tmp = Files.createTempFile(dir, ".manifest-", ".tmp")
    try {
      Files.write(tmp, serializeManifest(m).getBytes("UTF-8"))
      try {
        Files.createLink(dir.resolve(manifestName(m.version)), tmp)
        // keep the head-version hint warm for our own next read
        heads.put(dir, m.version)
        true
      } catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** One stream as a Dataset (empty if absent). Reads exactly the files
    * the head manifest lists — never a directory glob, so concurrent
    * compaction or a crashed commit's orphan file can neither duplicate
    * nor corrupt a read. */
  def readStream(u: String, s: String): Dataset[StoredEvent] = {
    val dir = streamPath(u, s)
    readHead(dir) match {
      case Some(m) if m.files.nonEmpty =>
        spark.read.parquet(m.files.map(f => dir.resolve(f).toString): _*)
          .as[StoredEvent]
      case _ => spark.emptyDataset[StoredEvent]
    }
  }

  /** Positional range scan `[start, start+limit)` — reference
    * src/db.rs:133-177. Revision-range predicate + sort + limit; parquet
    * min/max stats on revision prune non-matching batch files.
    *
    * API-sized reads (the page clamp is ≤1000, api.rs:271-272) are
    * served DRIVER-LOCALLY — the reference point-reads its local index
    * at sub-millisecond (benches/read_benchmark.rs:14-35), and a Spark
    * job per point read pays 100-600 ms of scheduling first. The same
    * manifest-listed files are read either way (never a glob), and each
    * file carries row-group revision stats, so the local filter prunes
    * exactly like the executor scan. The local cost is about 1 ms (on
    * 4 vCPUs) per file whose name-declared revision range overlaps the
    * request: a point read opens one file, but a page over an
    * uncompacted stream of single-event appends opens one file per
    * event. Analytical reads (readStream / userEvents) keep the Spark
    * path. */
  def query(u: String, s: String, start: Long, limit: Int)
      : Seq[CloudEvent] = {
    if (limit <= 0) return Nil
    if (limit <= EventStore.LocalReadMax) {
      val dir = streamPath(u, s)
      readHead(dir) match {
        case Some(m) if m.files.nonEmpty =>
          m.files
            // file names carry their revision range (batch-first-last-
            // uuid.parquet) — skip non-overlapping files without even
            // touching their footers; unparsable names are read (safe)
            .filter(f => EventStore.fileRevRange(f).forall {
              case (lo, hi) => hi >= start && lo < start + limit
            })
            .flatMap(f => LocalParquet.readRange(dir.resolve(f),
              start, start + limit))
            .sortBy(_.revision)
            .map(EventStore.toCloudEvent)
        case _ => Nil
      }
    } else
      readStream(u, s)
        .filter($"revision" >= start && $"revision" < start + limit)
        .orderBy($"revision")
        .collect().toSeq.map(EventStore.toCloudEvent)
  }

  /** Point lookup by rownum — reference src/server.rs:155-166. */
  def get(u: String, s: String, rownum: Long): Option[CloudEvent] =
    query(u, s, rownum, 1).headOption

  /** Paginated read with the reference's API clamps (offset ≥ 0, limit
    * ≤ 1000 default 50 — src/api.rs:271-272). */
  def page(u: String, s: String, offset: Long = 0, limit: Int = 50)
      : Seq[CloudEvent] =
    query(u, s, math.max(0, offset), math.min(math.max(limit, 0), 1000))

  /** All of a user's streams as one DataFrame (catalog scan) —
    * manifest-listed files only. */
  def userEvents(u: String): DataFrame = {
    val files = listDir(userPath(u)).filter(Files.isDirectory(_))
      .flatMap(sDir => readHead(sDir).toList
        .flatMap(_.files.map(f => sDir.resolve(f).toString)))
    if (files.isEmpty) spark.emptyDataset[StoredEvent].toDF()
    else spark.read.parquet(files: _*)
  }

  /** Stream metadata listing — metadata-ONLY, exactly like the reference
    * (src/db.rs:78-113): revision from the head manifest (the
    * index-length analogue), last_modified from the manifest commit
    * mtime, usage from the listed data files' byte sizes. O(#files)
    * with zero parquet footers touched — the shape that survives
    * millions of streams. For a scan-derived aggregate (count/max/sum
    * over rows, SURVEY.md §3.3) see streamsExact. */
  def streams(u: String, sort: StreamSort = StreamSort.IdAsc)
      : Seq[StreamMeta] = {
    val metas = listDir(userPath(u)).filter(Files.isDirectory(_))
      .flatMap { sDir =>
        readHead(sDir).map { m =>
          val sid = Base32.decodeString(sDir.getFileName.toString)
          val usage = m.files.map(f => Files.size(sDir.resolve(f))).sum
          val lastModified = Files.getLastModifiedTime(
            sDir.resolve(manifestName(m.version))).toMillis
          StreamMeta(sid, m.revision, new Timestamp(lastModified), usage)
        }
      }
    StreamSort.applyLocal(sort, metas) // reference src/api.rs:320-335
  }

  /** Scan-derived stream metadata (count/max/sum groupBy over rows —
    * the one genuine shuffle in the reference surface, SURVEY.md §3.3).
    * Same shape as the q22/q23 gate queries; use when row-level truth is
    * needed rather than storage accounting. */
  def streamsExact(u: String, sort: StreamSort = StreamSort.IdAsc)
      : Seq[StreamMeta] = {
    val df = userEvents(u)
    if (df.isEmpty) return Nil
    val agg = df.groupBy($"stream_id")
      .agg(
        count(lit(1)).as("revision"),
        max($"ingest_ts").as("last_modified"),
        sum(length(to_json(struct(
          $"specversion", $"id", $"source", $"type", $"subject", $"time",
          $"datacontenttype", $"dataschema", $"data", $"data_base64",
          $"extensions")))).cast("long").as("usage"))
    val sorted = sort.apply(agg)
    sorted.collect().toSeq.map(r => StreamMeta(
      r.getAs[String]("stream_id"), r.getAs[Long]("revision"),
      r.getAs[Timestamp]("last_modified"), r.getAs[Long]("usage")))
  }

  /** Point metadata lookup — O(1) on the single stream directory
    * (resolve it, read its head manifest, stat its listed files), like
    * the reference's one-directory path (src/server.rs:233-248) and
    * unlike the O(#user-streams) listing `streams(u)` does. After a
    * warm readHead this is two stats + one small manifest read +
    * #files stats — independent of how many streams the user has. */
  def getStream(u: String, s: String): Option[StreamMeta] = {
    val dir = streamPath(u, s)
    readHead(dir).map { m =>
      val usage = m.files.map(f => Files.size(dir.resolve(f))).sum
      val lastModified = Files.getLastModifiedTime(
        dir.resolve(manifestName(m.version))).toMillis
      StreamMeta(s, m.revision, new Timestamp(lastModified), usage)
    }
  }

  /** Compact a stream's per-batch files into one revision-sorted file —
    * the answer to append-path small-file pressure (SURVEY.md §7 "hard
    * parts"). Returns the number of files replaced (0 = nothing to do).
    *
    * Safe against concurrent readers: the compacted file commits through
    * a new manifest version, and the superseded files stay on disk until
    * a LATER compaction garbage-collects them (only files referenced by
    * neither the new head nor its predecessor, and older than `graceMs`,
    * are removed) — so a reader planned against the previous manifest
    * still finds every file it listed. The same GC sweep removes
    * orphaned files from crashed commits. */
  def compactStream(u: String, s: String, graceMs: Long = -1L): Int =
    lockFor(u, s).synchronized {
      // negative grace = defer to the store's configured policy
      val grace = if (graceMs < 0) options.gcGraceMs else graceMs
      val n = compactDir(streamPath(u, s), grace)
      if (n > 0) digests.remove(key(u, s)) // rebuilt from merged sidecar
      n
    }

  /** The lock-free core of [[compactStream]], shared with the catalog
    * table's own compaction ([[recoverCatalog]]) — the caller holds
    * whatever lock guards `dir`. */
  private def compactDir(dir: Path, grace: Long): Int = {
    val head = readHead(dir).getOrElse(return 0)
    if (head.files.size <= 1) { gcStream(dir, grace); return 0 }
    val last = head.revision - 1
    val uuid = java.util.UUID.randomUUID().toString
    val dataName = s"batch-0-$last-$uuid.parquet"
    val keysName = s"keys-0-$last-$uuid.keys"
    // rewrite via executors (never collect a whole stream to the
    // driver), sorted by revision for row-group stat locality
    val tmp = Files.createTempDirectory(root, ".compact-")
    try {
      spark.read.parquet(head.files.map(f => dir.resolve(f).toString): _*)
        .as[StoredEvent].orderBy($"revision").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(tmp.resolve("out").toString)
      val part = listDir(tmp.resolve("out"))
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("no compacted file"))
      Files.move(part, dir.resolve(dataName), StandardCopyOption.ATOMIC_MOVE)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    // merge the key sidecars 1:1 (compaction preserves every event)
    val merged = head.keyFiles.flatMap(kf => readKeyFile(dir.resolve(kf)))
    writeKeyFile(dir.resolve(keysName), merged)
    val m = Manifest(head.version + 1, head.revision,
      List(dataName), List(keysName))
    if (!tryCommitManifest(dir, m)) {
      // a concurrent writer committed first — drop our files, report
      // nothing compacted; the caller can retry
      Files.deleteIfExists(dir.resolve(dataName))
      Files.deleteIfExists(dir.resolve(keysName))
      return 0
    }
    gcStream(dir, grace)
    head.files.size
  }

  /** Compact every stream of a user (store maintenance sweep — the
    * batch form of the `compact_stream` SQL verb). Streams compact
    * independently, so the sweep parallelizes over a bounded pool the
    * same way ingestBatch's manifest commits do. Returns total files
    * replaced. */
  def compactAll(u: String, graceMs: Long = -1L,
      parallelism: Int = 8): Int = {
    val streamIds = listDir(userPath(u)).filter(Files.isDirectory(_))
      .map(p => Base32.decodeString(p.getFileName.toString))
    if (streamIds.isEmpty) return 0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, streamIds.size))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futures = streamIds.map(s =>
        scala.concurrent.Future(compactStream(u, s, graceMs)))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration(30, "min")).sum
    } finally pool.shutdown()
  }

  /** Garbage-collect files referenced by none of the kept manifest
    * generations ([[StoreOptions.keptGenerations]], default head +
    * predecessor — older generations protect in-flight readers) and
    * older than the grace window (protecting in-flight commits that have
    * written data but not yet linked their manifest). Manifests below
    * the kept suffix are pruned too, and so are the hidden `.crc`
    * checksum files that earlier versions of the driver-local writer
    * left beside every append (never referenced by any manifest). */
  private def gcStream(dir: Path, graceMs: Long): Unit = {
    val versions = listDir(dir).flatMap(p => p.getFileName.toString match {
      case ManifestFile(v) => Some(v.toLong)
      case _ => None
    }).sorted
    if (versions.isEmpty) return
    val keepVersions = versions.takeRight(options.keptGenerations).toSet
    val referenced = keepVersions.flatMap { v =>
      val m = parseManifest(dir.resolve(manifestName(v)))
      (m.files ++ m.keyFiles).toSet
    }
    val cutoff = System.currentTimeMillis() - graceMs
    val (manifests, dataFiles) = listDir(dir).partitionMap { p =>
      p.getFileName.toString match {
        case ManifestFile(v) => Left((v.toLong, p))
        case _ => Right(p)
      }
    }
    // Manifests are pruned OLDEST-FIRST so the surviving set is always a
    // contiguous suffix {w..head}, whatever instant a concurrent reader
    // (or a crash mid-sweep) observes. readHead's cache validation
    // ("manifest-v exists and manifest-(v+1) doesn't ⟹ v is head")
    // depends on exactly this order.
    manifests.sortBy(_._1).foreach { case (v, p) =>
      if (!keepVersions(v)) Files.deleteIfExists(p)
    }
    dataFiles.foreach { p =>
      val name = p.getFileName.toString
      val deletable =
        (name.endsWith(".parquet") || name.endsWith(".keys") ||
          (name.startsWith(".") && name.endsWith(".crc"))) &&
          !referenced(name) &&
          Files.getLastModifiedTime(p).toMillis < cutoff
      if (deletable) Files.deleteIfExists(p)
    }
  }

  /** Delete a stream — reference src/server.rs:251-261; returns whether
    * it existed (→ 204 vs 404, src/api.rs:421-423). */
  def deleteStream(u: String, s: String): Boolean =
    lockFor(u, s).synchronized {
      val dir = streamPath(u, s)
      val existed = Files.isDirectory(dir)
      if (existed) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      digests.remove(key(u, s))
      heads.remove(dir)
      if (existed) catalogOp(CatalogRemove, u, s)
      existed
    }

  // ------------------------------------------------------------ catalog
  //
  // The maintained stream-catalog table (r13 verdict item 5): the
  // reference's startup walk (server.rs:72-121) — and this store's
  // previous recoverCatalog — reads every stream directory's head
  // manifest, an O(streams) driver scan that is fine at 10^3 streams
  // and a boot bottleneck at 10^6. The catalog is itself a
  // manifest-committed parquet log at root/.catalog (a dot-dir, so the
  // walk never mistakes it for a user): every FIRST commit of a stream
  // appends one `add` row, every delete appends one `remove`, both
  // through the exact same commitAttempt/tryCommitManifest arbitration
  // as data commits (multi-process safe), and the log auto-compacts
  // through compactDir once it accumulates files. Recovery then reads
  // ONE head manifest + a handful of parquet files and folds
  // last-op-wins per (user, stream) — independent of stream count on
  // the driver (the fold is a Spark job).
  //
  // The catalog is an INDEX, not the arbiter: per-stream truth stays
  // the stream's own head manifest. A crash between a stream's first
  // manifest link and its catalog append hides that one stream from
  // the fast path until reconciliation — walkCatalog() remains the
  // audit/fallback and seeds the catalog on first use (which is also
  // the one-time migration path for a pre-catalog store: the first
  // catalog write snapshots the walk, so the fast path never serves a
  // subset).

  private val catalogDir = root.resolve(".catalog")
  private def catalogLock: Object = lockFor("\u0000", ".catalog")

  /** Append one catalog op, seeding the catalog from the walk on its
    * very first write (migration: a pre-catalog store's existing
    * streams must be in the table before any incremental row, or the
    * fast path would serve a subset). Caller context: data-commit
    * hooks hold the stream's write lock; lock order is always
    * stream -> catalog, and catalog ops take no stream locks. */
  private def catalogOp(op: String, u: String, s: String): Unit =
    catalogLock.synchronized {
      if (readHead(catalogDir).isEmpty)
        catalogCommit(walkCatalog().map { case (wu, ws) =>
          (CatalogAdd, wu, ws) })
      catalogCommit(Seq((op, u, s)))
      // bound the log: recovery reads head.files, so fold the log into
      // one file before it accumulates a directory's worth
      readHead(catalogDir).foreach { h =>
        if (h.files.size >= CatalogCompactAt)
          compactDir(catalogDir, options.gcGraceMs)
      }
    }

  /** One manifest-arbitrated commit of catalog rows (caller holds the
    * catalog lock; the retry loop is for OTHER PROCESSES racing). */
  private def catalogCommit(ops: Seq[(String, String, String)]): Unit = {
    if (ops.isEmpty) return
    val events = ops.map { case (op, u, s) =>
      CloudEvent(id = java.util.UUID.randomUUID().toString,
        source = u, `type` = op, subject = Some(s))
    }
    var attempt = 0
    while (attempt <= 10) {
      val head = readHead(catalogDir)
      if (commitAttempt("\u0000", ".catalog", catalogDir, head,
          events).nonEmpty) return
      attempt += 1
    }
    throw new IllegalStateException(
      "catalog: lost the commit race 10+ times")
  }

  /** Fold the catalog table to the live (user, stream) set — last op
    * per pair wins (a deleted-then-recreated stream is one `add` again).
    * None when no catalog has ever been committed. */
  private def readCatalogStreams(): Option[Seq[(String, String)]] =
    readHead(catalogDir).map { m =>
      if (m.files.isEmpty) Seq.empty
      else spark.read
        .parquet(m.files.map(f => catalogDir.resolve(f).toString): _*)
        .groupBy($"source", $"subject")
        .agg(max_by($"type", $"revision").as("__op"))
        .filter($"__op" === CatalogAdd && $"subject".isNotNull)
        .select($"source", $"subject")
        .as[(String, String)].collect().toSeq
    }

  /** Startup catalog recovery. Fast path: fold the maintained catalog
    * table — one head-manifest read + its few (auto-compacted) parquet
    * files, with the fold distributed as a Spark job, so driver work
    * is independent of stream count (CatalogScaleSpec pins it via the
    * dirListCount seam: recovery over 10^4 streams lists O(1)
    * directories where the walk lists every one). Fallback — and the
    * per-directory TRUTH, reference server.rs:72-121 — is
    * [[walkCatalog]], used when no catalog exists yet; it seeds the
    * table so the next recovery takes the fast path. */
  def recoverCatalog(): Seq[(String, String)] =
    readCatalogStreams().getOrElse {
      val walked = walkCatalog()
      if (walked.nonEmpty) catalogLock.synchronized {
        if (readHead(catalogDir).isEmpty)
          catalogCommit(walked.map { case (u, s) => (CatalogAdd, u, s) })
      }
      walked
    }

  /** The reference-style directory walk (server.rs:72-121: walk the
    * tree, base32-decode names) — O(streams) head-manifest reads on
    * the driver. The audit path and the catalog's seed; per-stream
    * truth when the catalog index is suspected stale. */
  def walkCatalog(): Seq[(String, String)] = {
    (for {
      u <- listDir(root)
      if Files.isDirectory(u) && !u.getFileName.toString.startsWith(".") &&
        u.getFileName.toString != "lost+found" // server.rs:91-93
      s <- listDir(u) if Files.isDirectory(s) && readHead(s).nonEmpty
    } yield (Base32.decodeString(u.getFileName.toString),
      Base32.decodeString(s.getFileName.toString)))
  }

  /** Audit + repair: diff the catalog against the walk and commit the
    * fix-ups (adds for streams the index missed — e.g. a crash between
    * first manifest link and catalog append — removes for entries whose
    * directories are gone). Returns the number of repaired rows. */
  def reconcileCatalog(): Int = catalogLock.synchronized {
    val truth = walkCatalog().toSet
    val indexed = readCatalogStreams().getOrElse(Seq.empty).toSet
    val fixes =
      (truth -- indexed).toSeq.sorted.map { case (u, s) =>
        (CatalogAdd, u, s) } ++
      (indexed -- truth).toSeq.sorted.map { case (u, s) =>
        (CatalogRemove, u, s) }
    catalogCommit(fixes)
    fixes.size
  }
}

object EventStore {
  /** Boot from environment, reference-style (src/main.rs:13-34 reads
    * `HEMATITE_STREAMS_DIR`): GRAFT_STREAMS_DIR is the root (required),
    * retention knobs come from [[StoreOptions.fromEnv]]. */
  def fromEnv(spark: SparkSession,
      env: Map[String, String] = sys.env): EventStore =
    new EventStore(spark,
      env.getOrElse("GRAFT_STREAMS_DIR", throw new IllegalArgumentException(
        "GRAFT_STREAMS_DIR is not set")),
      StoreOptions.fromEnv(env))

  /** Batches at or under this size are written driver-locally without a
    * Spark job (see writeBatchFile). */
  val LocalWriteMax = 256
  /** Catalog-table op types (rows in root/.catalog) + the log-length
    * trigger for folding the catalog into one file. */
  private[eventstore] val CatalogAdd = "graft.catalog.add"
  private[eventstore] val CatalogRemove = "graft.catalog.remove"
  private[eventstore] val CatalogCompactAt = 64
  /** Positional reads at or under this limit skip Spark and read the
    * manifest-listed files driver-locally (covers every API read — the
    * page clamp is 1000). */
  val LocalReadMax = 1000

  private val BatchName = """batch-(\d+)-(\d+)-.*\.parquet""".r

  /** The [first, last] revision range a data file's NAME declares, if
    * it follows the store's naming scheme. */
  private[eventstore] def fileRevRange(name: String)
      : Option[(Long, Long)] = name match {
    case BatchName(lo, hi) => Some((lo.toLong, hi.toLong))
    case _ => None
  }

  private[eventstore] val ManifestFile = """manifest-(\d+)\.log""".r

  private[eventstore] def manifestName(v: Long) = f"manifest-$v%020d.log"

  /** A committed state of one stream: its revision and the exact set of
    * data/key files that constitute it. Self-contained — reading the
    * head manifest alone fully describes the stream. */
  private[graft] case class Manifest(version: Long, revision: Long,
      files: List[String], keyFiles: List[String])

  private[eventstore] case class DigestCache(version: Long,
      loadedFiles: Set[String], digest: KeyDigest)

  /** Exact tier below BloomTierKeys keys, bloom tier above. */
  val BloomTierKeys: Int = 1 << 20

  /** Two-tier membership digest over 64-bit key hashes. `contains` may
    * answer a false positive (bloom tier); never a false negative —
    * exactness is restored by the confirm scan on every hit. */
  sealed trait KeyDigest {
    def contains(h: Long): Boolean
    def add(h: Long): KeyDigest
  }
  object KeyDigest {
    def empty(): KeyDigest = new ExactDigest(new java.util.HashSet)

    private[eventstore] final class ExactDigest(
        val hashes: java.util.HashSet[java.lang.Long]) extends KeyDigest {
      def contains(h: Long): Boolean = hashes.contains(h)
      def add(h: Long): KeyDigest = {
        hashes.add(h)
        if (hashes.size <= BloomTierKeys) this
        else { // graduate to the bloom tier
          val bloom = org.apache.spark.util.sketch.BloomFilter
            .create(BloomTierKeys.toLong * 16, 0.01)
          hashes.forEach(x => bloom.putLong(x))
          new BloomDigest(bloom)
        }
      }
    }

    private[eventstore] final class BloomDigest(
        val bloom: org.apache.spark.util.sketch.BloomFilter)
        extends KeyDigest {
      def contains(h: Long): Boolean = bloom.mightContainLong(h)
      def add(h: Long): KeyDigest = { bloom.putLong(h); this }
    }
  }

  /** Line format: `v <version>` / `r <revision>` / `f <dataFile>` /
    * `k <keyFile>`. File names are uuid-based (no spaces/newlines). */
  private[graft] def serializeManifest(m: Manifest): String = {
    val sb = new StringBuilder
    sb.append("v ").append(m.version).append('\n')
    sb.append("r ").append(m.revision).append('\n')
    m.files.foreach(f => sb.append("f ").append(f).append('\n'))
    m.keyFiles.foreach(f => sb.append("k ").append(f).append('\n'))
    sb.toString
  }

  private[graft] def parseManifest(p: Path): Manifest = {
    var v = 0L
    var r = 0L
    val fs = List.newBuilder[String]
    val ks = List.newBuilder[String]
    Files.readAllLines(p).asScala.foreach { line =>
      if (line.startsWith("v ")) v = line.drop(2).toLong
      else if (line.startsWith("r ")) r = line.drop(2).toLong
      else if (line.startsWith("f ")) fs += line.drop(2)
      else if (line.startsWith("k ")) ks += line.drop(2)
    }
    Manifest(v, r, fs.result(), ks.result())
  }

  /** 64-bit FNV-1a over `source + separator + id` (UTF-8) — the
    * stable key hash stored in `keys-*.keys` sidecars and checked by
    * the digest. Delegates to the native expression's companion
    * ([[graft.expressions.KeyHash64]]) so the driver-side and
    * codegen'd executor-side hashes are one definition. */
  def keyHash(source: String, id: String): Long =
    graft.expressions.KeyHash64.hash(
      source.getBytes("UTF-8"), id.getBytes("UTF-8"))

  /** Keys sidecar: big-endian 8-byte hashes, one per event. */
  private[eventstore] def writeKeyFile(target: Path, hashes: Seq[Long])
      : Unit = {
    val buf = java.nio.ByteBuffer.allocate(hashes.size * 8)
    hashes.foreach(buf.putLong)
    val tmp = Files.createTempFile(target.getParent, ".keys-", ".tmp")
    try {
      Files.write(tmp, buf.array())
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  private[eventstore] def readKeyFile(p: Path): Seq[Long] = {
    val bytes = Files.readAllBytes(p)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    (0 until bytes.length / 8).map(_ => buf.getLong)
  }

  /** Executor-side keys-sidecar staging for oversized ingests: rows
    * arrive partitioned by stream and sorted (__u32, __s32, revision),
    * so one streaming pass writes each stream's `keys.bin` in revision
    * order with O(1) memory — DataOutputStream.writeLong is big-endian,
    * byte-identical to [[writeKeyFile]]. A task retry truncates and
    * rewrites (CREATE+TRUNCATE), so reruns are idempotent. Defined on
    * the companion so the closure never captures the store (and its
    * SparkSession). */
  private[eventstore] def stagedKeysWriter(rootStr: String)
      : Iterator[org.apache.spark.sql.Row] => Unit = { it =>
    var curU: String = null
    var curS: String = null
    var out: java.io.DataOutputStream = null
    def close(): Unit = if (out != null) { out.close(); out = null }
    try {
      it.foreach { r =>
        val u32 = r.getString(0)
        val s32 = r.getString(1)
        if (u32 != curU || s32 != curS) {
          close(); curU = u32; curS = s32
          val d = Paths.get(rootStr, s"__u32=$u32", s"__s32=$s32")
          Files.createDirectories(d)
          out = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(
              Files.newOutputStream(d.resolve("keys.bin"))))
        }
        out.writeLong(r.getLong(2))
      }
    } finally close()
  }

  def toCloudEvent(r: StoredEvent): CloudEvent =
    CloudEvent(r.specversion, r.id, r.source, r.`type`, r.subject, r.time,
      r.datacontenttype, r.dataschema, r.data, r.data_base64, r.extensions)
}

/** The six stream-list sort orders of the reference (src/api.rs:320-335;
  * `-` prefix = descending). */
sealed abstract class StreamSort(val apply: DataFrame => DataFrame)
object StreamSort {
  import org.apache.spark.sql.functions.col
  case object IdAsc extends StreamSort(_.orderBy(col("stream_id").asc))
  case object UsageAsc extends StreamSort(_.orderBy(col("usage").asc))
  case object UsageDesc extends StreamSort(_.orderBy(col("usage").desc))
  case object RevisionAsc extends StreamSort(_.orderBy(col("revision").asc))
  case object RevisionDesc extends StreamSort(_.orderBy(col("revision").desc))
  case object LastModifiedAsc
      extends StreamSort(_.orderBy(col("last_modified").asc))
  case object LastModifiedDesc
      extends StreamSort(_.orderBy(col("last_modified").desc))

  /** Local (already-collected) counterpart of the DataFrame sorts, for
    * the metadata-only listing. Same six orders, same tie behavior
    * (stable sort, id ascending as the implicit tiebreak). */
  def applyLocal(sort: StreamSort, metas: Seq[StreamMeta])
      : Seq[StreamMeta] = {
    val byId = metas.sortBy(_.id)
    sort match {
      case IdAsc => byId
      case UsageAsc => byId.sortBy(_.usage)
      case UsageDesc => byId.sortBy(-_.usage)
      case RevisionAsc => byId.sortBy(_.revision)
      case RevisionDesc => byId.sortBy(-_.revision)
      case LastModifiedAsc => byId.sortBy(_.last_modified.getTime)
      case LastModifiedDesc => byId.sortBy(-_.last_modified.getTime)
    }
  }

  /** Parse the reference's `?sort=` parameter (unknown → None → 400). */
  def parse(s: String): Option[StreamSort] = s match {
    case "id" => Some(IdAsc)
    case "usage" => Some(UsageAsc)
    case "-usage" => Some(UsageDesc)
    case "revision" => Some(RevisionAsc)
    case "-revision" => Some(RevisionDesc)
    case "last_modified" => Some(LastModifiedAsc)
    case "-last_modified" => Some(LastModifiedDesc)
    case _ => None
  }
}
