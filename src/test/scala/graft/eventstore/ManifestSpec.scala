package graft.eventstore

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** The manifest commit protocol's guarantees, beyond what EventStoreSpec
  * (the reference's own test matrix) covers: multi-process CAS arbitration
  * via the atomic manifest link, reader isolation from compaction, crash
  * orphan invisibility, and the no-Spark-job digest fast path for
  * (source,id) dedup.
  */
class ManifestSpec extends SparkSuite {

  private def ev(id: String, src: String = "test://manifest") =
    CloudEvent(id = id, source = src, `type` = "dev.graft.test")

  test("two EventStore instances over the same root: CAS race has " +
      "exactly one winner (manifest link is the arbiter, not JVM locks)") {
    val dir = tempDir("multi-proc-")
    val storeA = new EventStore(spark, dir)
    val storeB = new EventStore(spark, dir)
    storeA.append("u1", "s1", Seq(ev("base")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val attempts = (0 until 4).map { t =>
      val store = if (t % 2 == 0) storeA else storeB
      Future {
        try { store.append("u1", "s1", Seq(ev(s"racer-$t")),
          ExpectedRevision.Exact(1)); true }
        catch { case _: RevisionMismatch => false }
      }
    }
    val results = Await.result(Future.sequence(attempts), 120.seconds)
    assert(results.count(identity) == 1)
    // both instances observe the same committed state
    assert(storeA.revision("u1", "s1") == 2)
    assert(storeB.revision("u1", "s1") == 2)
    assert(storeB.query("u1", "s1", 0, 10).size == 2)
  }

  test("two instances appending concurrently with Any interleave " +
      "without losing events (loser retries on the next version)") {
    val dir = tempDir("multi-any-")
    val storeA = new EventStore(spark, dir)
    val storeB = new EventStore(spark, dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val futures = (0 until 2).map { t =>
      val store = if (t == 0) storeA else storeB
      Future {
        (0 until 5).foreach(i =>
          store.append("u1", "shared", Seq(ev(s"w$t-$i"))))
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    assert(storeA.revision("u1", "shared") == 10)
    val got = storeA.query("u1", "shared", 0, 100)
    assert(got.size == 10)
    assert(got.map(_.id).toSet ==
      (0 until 2).flatMap(t => (0 until 5).map(i => s"w$t-$i")).toSet)
    // dedup catches cross-instance duplicates too
    intercept[SourceIdConflict] { storeB.append("u1", "shared",
      Seq(ev("w0-0"))) }
  }

  test("a Dataset planned before compaction still reads correctly — " +
      "no silent duplication, no missing-file failure") {
    val store = new EventStore(spark, tempDir("compact-read-"))
    (0 until 5).foreach(i => store.append("u1", "s1", Seq(ev(s"e-$i"))))
    val planned = store.readStream("u1", "s1") // captures the v5 file list
    assert(store.compactStream("u1", "s1") == 5)
    // superseded files survive one generation (grace GC), so the
    // pre-compaction plan executes against its original files
    val rows = planned.orderBy("revision").collect()
    assert(rows.length == 5)
    assert(rows.map(_.id).toSeq == (0 until 5).map(i => s"e-$i"))
    // a fresh read sees the same events exactly once via the new manifest
    val fresh = store.query("u1", "s1", 0, 100)
    assert(fresh.map(_.id) == (0 until 5).map(i => s"e-$i"))
  }

  test("orphaned files from a crashed commit are invisible and later " +
      "garbage-collected") {
    val root = tempDir("orphan-")
    val store = new EventStore(spark, root)
    store.append("u1", "s1", Seq(ev("e-0"), ev("e-1")))
    val streamDir = onlyStreamDir(root)
    // simulate a crash between data-file write and manifest link: copy
    // an existing batch file under a fresh uuid name
    val committed = Files.list(streamDir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val orphan = streamDir.resolve(
      "batch-2-3-00000000-dead-beef-0000-000000000000.parquet")
    Files.copy(committed, orphan)
    // invisible to every read path
    assert(store.revision("u1", "s1") == 2)
    assert(store.query("u1", "s1", 0, 100).size == 2)
    assert(store.streams("u1").head.revision == 2)
    // GC (via compaction housekeeping, zero grace) removes it
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(1L))
    store.append("u1", "s1", Seq(ev("e-2")))
    store.compactStream("u1", "s1", graceMs = 0L)
    assert(!Files.exists(orphan))
    assert(store.query("u1", "s1", 0, 100).size == 3)
  }

  test("GC sweeps the hidden .crc files older stores left per append, " +
      "under the grace window, and never touches in-flight temp files") {
    val root = tempDir("crc-gc-")
    val store = new EventStore(spark, root)
    store.append("u1", "s1", Seq(ev("e-0")))
    store.append("u1", "s1", Seq(ev("e-1")))
    val streamDir = onlyStreamDir(root)
    def plant(name: String, mtime: Long): Path = {
      val p = Files.write(streamDir.resolve(name), Array[Byte](1, 2, 3))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
      p
    }
    val longAgo = System.currentTimeMillis() - 3600000L
    val oldCrc = plant("..commit-1234567890.tmp.crc", longAgo)
    val youngCrc = plant("..commit-9876543210.tmp.crc",
      System.currentTimeMillis())
    val inFlight = Seq(plant(".manifest-1234567890.tmp", longAgo),
      plant(".keys-1234567890.tmp", longAgo))
    assert(store.compactStream("u1", "s1", graceMs = 60000L) == 2)
    assert(!Files.exists(oldCrc))
    assert(Files.exists(youngCrc), "a file inside the grace window survives")
    inFlight.foreach(p => assert(Files.exists(p), s"$p was deleted"))
    assert(store.query("u1", "s1", 0, 10).map(_.id) == Seq("e-0", "e-1"))
  }

  test("superseded files are garbage-collected after one further " +
      "generation (deferred deletion for in-flight readers)") {
    val root = tempDir("gc-")
    val store = new EventStore(spark, root)
    (0 until 4).foreach(i => store.append("u1", "s1", Seq(ev(s"e-$i"))))
    val streamDir = onlyStreamDir(root)
    def parquetCount = Files.list(streamDir).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(parquetCount == 4)
    assert(store.compactStream("u1", "s1", graceMs = 0L) == 4)
    // originals still on disk: referenced by the previous manifest
    assert(parquetCount == 5)
    store.append("u1", "s1", Seq(ev("e-4")))
    assert(store.compactStream("u1", "s1", graceMs = 0L) == 2)
    // now the 4 originals are referenced by neither kept manifest → gone;
    // what remains: compacted-v2 (head) + the previous generation's
    // compacted-v1 and the e-4 batch file
    assert(parquetCount == 3)
    assert(store.query("u1", "s1", 0, 100).map(_.id) ==
      (0 until 5).map(i => s"e-$i"))
  }

  test("append to a long stream launches ZERO Spark jobs: digest dedup " +
      "is in-memory and small batches write driver-locally") {
    val store = new EventStore(spark, tempDir("nojob-"))
    (0 until 10).foreach(i =>
      store.append("u1", "hot", Seq(ev(s"seed-$i"))))
    // warm the digest cache (first call after restart loads sidecars)
    store.append("u1", "hot", Seq(ev("warm")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      store.append("u1", "hot", Seq(ev("fresh-a"), ev("fresh-b")))
      // listener delivery is async: poll until the count stabilizes
      var last = -1
      var stable = 0
      val deadline = System.currentTimeMillis() + 10000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      assert(jobs.get() == 0,
        s"expected no Spark jobs on the append hot path, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(store.revision("u1", "hot") == 13)
  }

  test("small appends are fast: no-Spark-job write path lands a " +
      "single-event append in single-digit milliseconds (reference " +
      "p95<50ms envelope, load/post-event.js:7-11)") {
    val store = new EventStore(spark, tempDir("latency-"))
    val t = Some(new java.sql.Timestamp(1700000000000L))
    // warm: first append pays one-time codec/class init
    (0 until 5).foreach(i =>
      store.append("u1", "hot", Seq(ev(s"warm-$i").copy(time = t))))
    val times = (0 until 20).map { i =>
      val t0 = System.nanoTime()
      store.append("u1", "hot", Seq(ev(s"timed-$i").copy(time = t)))
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val p50 = times(times.size / 2)
    val p95 = times((times.size * 95) / 100)
    info(f"append latency: p50 $p50%.1f ms, p95 $p95%.1f ms")
    assert(p50 < 50.0, s"median append latency $p50 ms exceeds the " +
      "reference's 50 ms envelope")
    assert(store.revision("u1", "hot") == 25)
  }

  test("mixed writer paths coexist in one stream: executor-written " +
      "(INT96 ts) and driver-written (INT64 micros ts) files read back " +
      "uniformly") {
    val store = new EventStore(spark, tempDir("mixed-writers-"))
    val t1 = new java.sql.Timestamp(1700000001234L)
    val t2 = new java.sql.Timestamp(1700000005678L)
    // > LocalWriteMax → executor path (Spark writer, INT96 timestamps)
    val big = (0 until EventStore.LocalWriteMax + 10).map(i =>
      ev(s"big-$i").copy(time = Some(t1)))
    store.append("u1", "s1", big)
    // small → driver-local path (INT64 micros timestamps)
    store.append("u1", "s1", Seq(ev("small-0").copy(time = Some(t2))))
    val all = store.query("u1", "s1", 0, 1000)
    assert(all.size == big.size + 1)
    assert(all.take(big.size).forall(_.time.contains(t1)))
    assert(all.last.time.contains(t2))
    assert(all.last.id == "small-0")
    // compaction rewrites the mixed files into one and preserves values
    assert(store.compactStream("u1", "s1") == 2)
    assert(store.query("u1", "s1", 0, 1000) == all)
  }

  test("a second instance detects duplicates committed by the first " +
      "(digest rebuilt from keys sidecars, not process memory)") {
    val dir = tempDir("digest-recover-")
    val storeA = new EventStore(spark, dir)
    storeA.append("u1", "s1", (0 until 20).map(i => ev(s"e-$i")))
    val storeB = new EventStore(spark, dir)
    intercept[SourceIdConflict] {
      storeB.append("u1", "s1", Seq(ev("e-7")))
    }
    // 64-bit digest hit on a *different* key is resolved exactly: a new
    // id sails through
    assert(storeB.append("u1", "s1", Seq(ev("e-20"))) == 21)
  }

  test("ingestBatch dedups against commits made by ANOTHER store " +
      "instance (digest from sidecars, revisions continue densely)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tempDir("xstore-ingest-")
    val storeA = new EventStore(spark, dir)
    val storeB = new EventStore(spark, dir)
    storeB.append("u1", "s1", Seq(ev("e-0"), ev("e-1")))
    val batch = spark.createDataset(Seq("e-0", "e-1", "e-2")
        .map(id => ("u1", "s1", id, "test://manifest", "t")))
      .toDF("user_id", "stream_id", "id", "source", "type")
      .withColumn("specversion", lit("1.0"))
      .withColumn("subject", lit(null: String))
      .withColumn("time", lit(null).cast("timestamp"))
      .withColumn("datacontenttype", lit(null: String))
      .withColumn("dataschema", lit(null: String))
      .withColumn("data", lit(null: String))
      .withColumn("data_base64", lit(null).cast("binary"))
      .withColumn("extensions", map().cast("map<string,string>"))
    assert(storeA.ingestBatch(batch) == 1) // only e-2 is fresh
    assert(storeB.revision("u1", "s1") == 3)
    assert(storeB.query("u1", "s1", 0, 10).map(_.id) ==
      Seq("e-0", "e-1", "e-2"))
  }

  test("oversized ingest takes the distributed dedup path: executor-" +
      "staged key sidecars, exact dedup, end-state identical to the " +
      "driver path") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def mkBatch(ids: Seq[(String, String)]) =
      spark.createDataset(ids.map { case (s, id) =>
          ("u1", s, id, "test://manifest", "t") })
        .toDF("user_id", "stream_id", "id", "source", "type")
        .withColumn("specversion", lit("1.0"))
        .withColumn("subject", lit(null: String))
        .withColumn("time", lit(null).cast("timestamp"))
        .withColumn("datacontenttype", lit(null: String))
        .withColumn("dataschema", lit(null: String))
        .withColumn("data", lit(null: String))
        .withColumn("data_base64", lit(null).cast("binary"))
        .withColumn("extensions", map().cast("map<string,string>"))
    // within-batch re-delivery (e-2 twice) + committed dups (e-0, e-1)
    // + fresh events across TWO streams
    val b = mkBatch(Seq("s1" -> "e-0", "s1" -> "e-1", "s1" -> "e-2",
      "s1" -> "e-3", "s2" -> "x-0", "s2" -> "x-1", "s2" -> "x-2",
      "s1" -> "e-2"))
    val dir = tempDir("bulk-ingest-")
    // cap 2 → this batch is 'oversized': committed sidecars are joined
    // on executors, fresh sidecars staged by executors, and the driver
    // never holds a hash per event
    val store = new EventStore(spark, dir,
      StoreOptions(ingestDriverMaxKeys = 2))
    store.append("u1", "s1", Seq(ev("e-0"), ev("e-1")))
    assert(store.ingestBatch(b) == 5) // e-2 e-3 x-0 x-1 x-2
    assert(store.revision("u1", "s1") == 4)
    assert(store.revision("u1", "s2") == 3)
    assert(store.query("u1", "s1", 0, 10).map(_.id) ==
      Seq("e-0", "e-1", "e-2", "e-3"))
    assert(store.query("u1", "s2", 0, 10).map(_.id) ==
      Seq("x-0", "x-1", "x-2"))
    // idempotent re-ingest through the distributed path (a second
    // instance, so the dedup evidence is the executor-written sidecars
    // + data files on disk, not in-memory state)
    val store2 = new EventStore(spark, dir,
      StoreOptions(ingestDriverMaxKeys = 2))
    assert(store2.ingestBatch(b) == 0)
    // the executor-staged sidecars must be byte-compatible digest
    // sources for the DRIVER path too: a default-options instance
    // dedups the same batch through digestFor/readKeyFile
    val store3 = new EventStore(spark, dir)
    assert(store3.ingestBatch(b) == 0)
    // and the driver path produces the identical end state on the
    // same input from scratch
    val dir2 = tempDir("bulk-ingest-driver-")
    val sd = new EventStore(spark, dir2)
    sd.append("u1", "s1", Seq(ev("e-0"), ev("e-1")))
    assert(sd.ingestBatch(b) == 5)
    assert(sd.query("u1", "s1", 0, 10).map(_.id) ==
      store.query("u1", "s1", 0, 10).map(_.id))
    assert(sd.query("u1", "s2", 0, 10).map(_.id) ==
      store.query("u1", "s2", 0, 10).map(_.id))
  }

  test("concurrent ingestBatch from two stores into the same stream " +
      "never loses or duplicates events (fallback re-append on races)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tempDir("race-ingest-")
    val storeA = new EventStore(spark, dir)
    val storeB = new EventStore(spark, dir)
    def batchDF(prefix: String, n: Int) =
      spark.createDataset((0 until n)
          .map(i => ("u1", "hot", s"$prefix-$i", "race", "t")))
        .toDF("user_id", "stream_id", "id", "source", "type")
        .withColumn("specversion", lit("1.0"))
        .withColumn("subject", lit(null: String))
        .withColumn("time", lit(null).cast("timestamp"))
        .withColumn("datacontenttype", lit(null: String))
        .withColumn("dataschema", lit(null: String))
        .withColumn("data", lit(null: String))
        .withColumn("data_base64", lit(null).cast("binary"))
        .withColumn("extensions", map().cast("map<string,string>"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    (0 until 3).foreach { round =>
      val fa = Future(storeA.ingestBatch(batchDF(s"a$round", 4)))
      val fb = Future(storeB.ingestBatch(batchDF(s"b$round", 4)))
      assert(Await.result(fa, 120.seconds) == 4)
      assert(Await.result(fb, 120.seconds) == 4)
    }
    assert(storeA.revision("u1", "hot") == 24)
    val ids = storeA.query("u1", "hot", 0, 100).map(_.id)
    assert(ids.size == 24)
    assert(ids.toSet.size == 24) // no duplicates
    // dense, gap-free revisions
    val revs = storeA.readStream("u1", "hot")
      .select("revision").collect().map(_.getLong(0)).sorted
    assert(revs.toSeq == (0L until 24L))
  }

  test("commitStaged fallback (DETERMINISTIC): an external commit landing " +
      "between ingest prep and the staged commit forces the idempotent " +
      "re-append, with no loss, duplication, or revision gap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tempDir("staged-fallback-")
    val storeA = new EventStore(spark, dir)
    val storeB = new EventStore(spark, dir)
    storeA.append("u1", "s1", Seq(ev("e-0"), ev("e-1")))
    // the external writer fires exactly once, inside commitStaged's lock
    // but before its head re-read: it commits one event the batch ALSO
    // carries (e-3) and one it doesn't (x-0)
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    storeA.testHookBeforeCommitStaged = (u, s) =>
      if (u == "u1" && s == "s1" && fired.getAndIncrement() == 0)
        storeB.append("u1", "s1", Seq(ev("e-3"), ev("x-0")))
    try {
      val batch = spark.createDataset(Seq("e-1", "e-2", "e-3")
          .map(id => ("u1", "s1", id, "test://manifest", "t")))
        .toDF("user_id", "stream_id", "id", "source", "type")
        .withColumn("specversion", lit("1.0"))
        .withColumn("subject", lit(null: String))
        .withColumn("time", lit(null).cast("timestamp"))
        .withColumn("datacontenttype", lit(null: String))
        .withColumn("dataschema", lit(null: String))
        .withColumn("data", lit(null: String))
        .withColumn("data_base64", lit(null).cast("binary"))
        .withColumn("extensions", map().cast("map<string,string>"))
      // e-1 dropped at prep (already committed), e-3 dropped by the
      // fallback's idempotent dedup (external writer won it) → 1 fresh
      assert(storeA.ingestBatch(batch) == 1)
    } finally storeA.testHookBeforeCommitStaged = (_, _) => ()
    assert(fired.get() == 1)
    val all = storeA.query("u1", "s1", 0, 100)
    assert(all.map(_.id) == Seq("e-0", "e-1", "e-3", "x-0", "e-2"))
    val revs = storeA.readStream("u1", "s1")
      .select("revision").collect().map(_.getLong(0)).sorted
    assert(revs.toSeq == (0L until 5L))
  }

  test("delete-then-recreate resets a stream cleanly, including a " +
      "second instance's stale digest cache") {
    val dir = tempDir("del-recreate-")
    val storeA = new EventStore(spark, dir)
    val storeB = new EventStore(spark, dir)
    storeA.append("u1", "s1", Seq(ev("e-0"), ev("e-1")))
    // warm B's digest cache at version 1
    intercept[SourceIdConflict] { storeB.append("u1", "s1", Seq(ev("e-0"))) }
    assert(storeA.deleteStream("u1", "s1"))
    assert(storeB.revision("u1", "s1") == 0)
    // recreate through the OTHER instance: old (source,id)s are legal
    // again (the old digest must not leak into the new incarnation)
    assert(storeB.append("u1", "s1", Seq(ev("e-0"))) == 1)
    assert(storeA.query("u1", "s1", 0, 10).map(_.id) == Seq("e-0"))
    assert(storeA.revision("u1", "s1") == 1)
  }

  test("digest cache cannot serve a stale incarnation that reached the " +
      "SAME manifest version: duplicates of the new incarnation's " +
      "events are still detected (soak-found regression)") {
    val dir = tempDir("same-version-")
    val storeA = new EventStore(spark, dir)
    val storeB = new EventStore(spark, dir)
    storeA.append("u1", "s1", Seq(ev("old-0")))
    // warm A's digest cache at version 1 (digest check runs on append)
    storeA.append("u1", "s1", Seq(ev("old-1")))
    // B deletes and rebuilds the stream BACK to version 2 with
    // different events — same version number, different incarnation
    storeB.deleteStream("u1", "s1")
    storeB.append("u1", "s1", Seq(ev("new-0")))
    storeB.append("u1", "s1", Seq(ev("new-1")))
    // A must reject a duplicate of the NEW incarnation's event (a
    // version-only digest cache would miss it) and allow the OLD id
    intercept[SourceIdConflict] {
      storeA.append("u1", "s1", Seq(ev("new-1")))
    }
    assert(storeA.append("u1", "s1", Seq(ev("old-0"))) == 3)
    assert(storeA.query("u1", "s1", 0, 10).map(_.id) ==
      Seq("new-0", "new-1", "old-0"))
  }

  test("compactAll sweeps every stream of a user in parallel and " +
      "preserves all data") {
    val dir = tempDir("compact-all-")
    val store = new EventStore(spark, dir)
    (0 until 3).foreach { s =>
      (0 until 3).foreach { i =>
        store.append("u1", s"s$s", Seq(ev(s"e-$s-$i")))
      }
    }
    store.append("u2", "other", Seq(ev("x-0"))) // other tenant untouched
    assert(store.compactAll("u1") == 9) // 3 streams x 3 files
    assert(store.compactAll("u1") == 0) // idempotent
    (0 until 3).foreach { s =>
      assert(store.query("u1", s"s$s", 0, 10).map(_.id) ==
        (0 until 3).map(i => s"e-$s-$i"))
    }
    assert(store.query("u2", "other", 0, 10).map(_.id) == Seq("x-0"))
  }

  test("head cache never hides external writers: commits, compactions, " +
      "and delete-recreate through ANOTHER instance are visible on the " +
      "next read (dense-version probe, content always re-parsed)") {
    val dir = tempDir("head-cache-")
    val storeA = new EventStore(spark, dir)
    val storeB = new EventStore(spark, dir)
    storeA.append("u1", "s1", Seq(ev("e-0")))
    // warm A's head cache, then hit it again (no commit in between)
    assert(storeA.revision("u1", "s1") == 1)
    assert(storeA.revision("u1", "s1") == 1)
    // external commit → A must see it immediately
    storeB.append("u1", "s1", Seq(ev("e-1"), ev("e-2")))
    assert(storeA.revision("u1", "s1") == 3)
    // external compaction bumps the version without changing revision
    storeB.append("u1", "s1", Seq(ev("e-3")))
    assert(storeB.compactStream("u1", "s1") == 3)
    assert(storeA.revision("u1", "s1") == 4)
    assert(storeA.query("u1", "s1", 0, 10).map(_.id) ==
      Seq("e-0", "e-1", "e-2", "e-3"))
    // external delete + recreate lands at version 1 again: the stale
    // cached head version must not resurface
    assert(storeB.deleteStream("u1", "s1"))
    storeB.append("u1", "s1", Seq(ev("n-0")))
    assert(storeA.revision("u1", "s1") == 1)
    assert(storeA.query("u1", "s1", 0, 10).map(_.id) == Seq("n-0"))
  }

  test("streams() metadata listing runs zero Spark jobs and touches no " +
      "parquet footers (manifest + file sizes only)") {
    val store = new EventStore(spark, tempDir("meta-only-"))
    (0 until 5).foreach(i =>
      store.append("u1", s"stream-$i", Seq(ev(s"e-$i"), ev(s"f-$i"))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val metas = store.streams("u1", StreamSort.UsageDesc)
      assert(metas.size == 5)
      assert(metas.forall(_.revision == 2))
      assert(metas.forall(_.usage > 0))
      var last = -1; var stable = 0
      val deadline = System.currentTimeMillis() + 10000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      assert(jobs.get() == 0,
        s"streams() should be metadata-only, saw ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("key digest graduates from the exact set to the bloom tier with " +
      "no false negatives across the transition") {
    import EventStore.KeyDigest
    var d: KeyDigest = KeyDigest.empty()
    val n = EventStore.BloomTierKeys + 1000
    var i = 0
    while (i < n) {
      d = d.add(EventStore.keyHash("src", i.toString))
      i += 1
    }
    assert(d.isInstanceOf[KeyDigest.BloomDigest])
    // no false negatives: every added key still answers true, including
    // those added before and after the tier switch
    Seq(0, 1, EventStore.BloomTierKeys - 1, EventStore.BloomTierKeys,
      n - 1).foreach { k =>
      assert(d.contains(EventStore.keyHash("src", k.toString)), k)
    }
    // false-positive rate stays in the configured ballpark
    val fp = (0 until 10000).count(k =>
      d.contains(EventStore.keyHash("other", k.toString)))
    assert(fp < 300, s"bloom fp rate ${fp / 10000.0} too high")
  }

  test("StoreOptions govern retention: keptGenerations widens the kept " +
      "manifest suffix, gcGraceMs comes from the store config, and " +
      "ingestBatch auto-compacts at the configured cap by default") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def manifests(d: Path) = Files.list(d).iterator().asScala
      .count(_.getFileName.toString.startsWith("manifest-"))

    // keptGenerations = 3 (zero grace): three manifest versions survive
    // a compaction sweep, vs two under the default config
    val r3 = tempDir("opt-keep3-")
    val keep3 = new EventStore(spark, r3,
      StoreOptions(gcGraceMs = 0L, keptGenerations = 3))
    (0 until 4).foreach(i => keep3.append("u1", "s1", Seq(ev(s"k3-$i"))))
    assert(keep3.compactStream("u1", "s1") == 4) // grace from options
    assert(manifests(onlyStreamDir(r3)) == 3)
    assert(keep3.query("u1", "s1", 0, 10).size == 4)

    val r2 = tempDir("opt-keep2-")
    val keep2 = new EventStore(spark, r2, StoreOptions(gcGraceMs = 0L))
    (0 until 4).foreach(i => keep2.append("u1", "s1", Seq(ev(s"k2-$i"))))
    assert(keep2.compactStream("u1", "s1") == 4)
    assert(manifests(onlyStreamDir(r2)) == 2)

    // ingestBatch's default auto-compaction honors the store option:
    // cap 2 folds the stream back to one live file as batches land
    def batchDF(id: String) =
      spark.createDataset(Seq(("u1", "hot", id, "opt://auto", "t")))
        .toDF("user_id", "stream_id", "id", "source", "type")
        .withColumn("specversion", lit("1.0"))
        .withColumn("subject", lit(null: String))
        .withColumn("time", lit(null).cast("timestamp"))
        .withColumn("datacontenttype", lit(null: String))
        .withColumn("dataschema", lit(null: String))
        .withColumn("data", lit(null: String))
        .withColumn("data_base64", lit(null).cast("binary"))
        .withColumn("extensions", map().cast("map<string,string>"))
    val rA = tempDir("opt-auto-")
    val auto = new EventStore(spark, rA,
      StoreOptions(gcGraceMs = 0L, autoCompactAfter = 2))
    (0 until 3).foreach(i => assert(auto.ingestBatch(batchDF(s"a-$i")) == 1))
    val headA = Files.list(onlyStreamDir(rA)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("manifest-"))
      .maxBy(_.getFileName.toString)
    assert(EventStore.parseManifest(headA).files.size == 1,
      "store-configured auto-compaction should fold the stream to one file")
    assert(auto.query("u1", "hot", 0, 10).map(_.id) ==
      Seq("a-0", "a-1", "a-2"))
  }

  test("driver-local positional reads: identical to the Spark scan " +
      "over BOTH file kinds (local small-batch + Spark compaction), " +
      "and launch ZERO Spark jobs") {
    val store = new EventStore(spark, tempDir("local-read-"))
    // local-written files (≤ LocalWriteMax), incl. optional fields
    store.append("u1", "mix", (0 until 30).map { i =>
      CloudEvent(id = s"a-$i", source = "test://local",
        `type` = "dev.graft.test",
        subject = if (i % 3 == 0) Some(s"subj-$i") else None,
        time = if (i % 2 == 0)
          Some(new java.sql.Timestamp(1700000000000L + i * 1234L))
        else None,
        data = if (i % 2 == 1) Some(s"""{"i":$i}""") else None,
        data_base64 = if (i % 5 == 0) Some(Array[Byte](1, 2, i.toByte))
        else None,
        extensions = if (i % 4 == 0) Map("k" -> s"v$i", "n" -> null)
        else Map.empty)
    })
    // a Spark-written file (> LocalWriteMax forces the executor path)
    store.append("u1", "mix",
      (30 until 320).map(i => ev(s"b-$i", "test://spark")))
    // and a Spark-written COMPACTED file replacing both
    store.compactStream("u1", "mix")
    import org.apache.spark.sql.functions.col
    val viaSpark = store.readStream("u1", "mix")
      .orderBy(col("revision")).collect().toSeq
      .map(EventStore.toCloudEvent)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val viaLocal = store.query("u1", "mix", 0, 1000)
      // Array[Byte] compares by reference inside a case class — compare
      // a normalized projection for FULL value equality, 320 rows
      def norm(e: CloudEvent) =
        (e.specversion, e.id, e.source, e.`type`, e.subject, e.time,
          e.datacontenttype, e.dataschema, e.data,
          e.data_base64.map(_.toSeq), e.extensions)
      assert(viaLocal.size == viaSpark.size)
      assert(viaLocal.map(norm) == viaSpark.map(norm))
      assert(store.query("u1", "mix", 25, 10).map(_.id)
        == viaSpark.slice(25, 35).map(_.id)) // straddles old file split
      assert(store.get("u1", "mix", 319).map(_.id) == Some("b-319"))
      assert(store.get("u1", "mix", 320).isEmpty)
      Thread.sleep(200) // let any stray job-start event reach the bus
      assert(jobs.get() == 0,
        s"expected zero Spark jobs on API-sized reads, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ingest staged-write plan survives CODEGEN_ONLY end-to-end: " +
      "no Scala UDF / interpreted fallback anywhere in append") {
    val before = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val store = new EventStore(spark, tempDir("codegen-ingest-"))
      // two batches so both the fresh-stream and existing-head paths
      // (base join, revision window, Base32 dir derivation, key hash)
      // run under forced codegen
      store.append("u#1", "s/1", (0 until 25).map(i => ev(s"e-$i")))
      store.append("u#1", "s/1", (25 until 40).map(i => ev(s"e-$i")))
      assert(store.revision("u#1", "s/1") == 40)
      assert(store.query("u#1", "s/1", 37, 10).map(_.id)
        == Seq("e-37", "e-38", "e-39"))
    } finally {
      before match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  private def onlyStreamDir(root: String): Path = {
    // skip dot-dirs: the store's own catalog table lives at .catalog
    val user = Files.list(Paths.get(root)).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        !p.getFileName.toString.startsWith(".")).toList match {
      case one :: Nil => one
      case other => fail(s"expected one user dir, got $other")
    }
    Files.list(user).iterator().asScala.filter(Files.isDirectory(_))
      .toList match {
      case one :: Nil => one
      case other => fail(s"expected one stream dir, got $other")
    }
  }
}
