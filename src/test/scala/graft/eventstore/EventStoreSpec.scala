package graft.eventstore

import graft.SparkSuite
import graft.functions.Base32
import scala.jdk.CollectionConverters._

/** Mirrors the reference's storage-engine unit tests (src/db.rs:269-396:
  * roundtrip, empty read, the CAS matrix, 199-append positional read)
  * plus the behaviors the reference specifies but doesn't test or
  * implement: (source,id) dedup, delete, catalog recovery, sorts.
  */
class EventStoreSpec extends SparkSuite {

  private def freshStore() = new EventStore(spark, tempDir("es-"))
  private def ev(id: String, src: String = "test://spec",
      data: Option[String] = None) =
    CloudEvent(id = id, source = src, `type` = "dev.graft.test", data = data)

  test("can write and read one event back intact (db.rs:279-298)") {
    val es = freshStore()
    val e = CloudEvent(id = "A234-1234-1234", source = "/mycontext",
      `type` = "com.example.someevent",
      subject = Some("123"), data = Some("\"data!\""),
      extensions = Map("comexampleextension1" -> "value"))
    assert(es.append("u1", "s1", Seq(e)) == 1)
    val got = es.query("u1", "s1", 0, 10)
    assert(got == Seq(e))
  }

  test("reading an empty / unknown stream returns empty (db.rs:300-309)") {
    val es = freshStore()
    assert(es.query("u1", "nope", 0, 10).isEmpty)
    assert(es.get("u1", "nope", 0).isEmpty)
    assert(es.revision("u1", "nope") == 0)
  }

  test("empty batch is rejected (db.rs:185)") {
    val es = freshStore()
    intercept[EmptyAppend.type] { es.append("u1", "s1", Nil) }
  }

  test("CAS: NoStream succeeds on empty stream (db.rs:311-321)") {
    val es = freshStore()
    assert(es.append("u1", "s1", Seq(ev("e1")),
      ExpectedRevision.NoStream) == 1)
  }

  test("CAS: NoStream fails on non-empty stream (db.rs:323-334)") {
    val es = freshStore()
    es.append("u1", "s1", Seq(ev("e1")))
    val ex = intercept[RevisionMismatch] {
      es.append("u1", "s1", Seq(ev("e2")), ExpectedRevision.NoStream)
    }
    assert(ex.actual == 1)
  }

  test("CAS: StreamExists fails on empty stream (db.rs:336-345)") {
    val es = freshStore()
    intercept[RevisionMismatch] {
      es.append("u1", "s1", Seq(ev("e1")), ExpectedRevision.StreamExists)
    }
  }

  test("CAS: Exact(n) matches current revision (db.rs:347-359)") {
    val es = freshStore()
    es.append("u1", "s1", Seq(ev("e1")))
    assert(es.append("u1", "s1", Seq(ev("e2")),
      ExpectedRevision.Exact(1)) == 2)
    intercept[RevisionMismatch] {
      es.append("u1", "s1", Seq(ev("e3")), ExpectedRevision.Exact(1))
    }
  }

  test("dense revisions + positional read across many appends " +
      "(db.rs:361-395 at reduced scale)") {
    val es = freshStore()
    (0 until 40).foreach { i =>
      es.append("u1", "big", Seq(ev(s"evt-$i", data = Some(i.toString))))
    }
    assert(es.revision("u1", "big") == 40)
    // positional read of rownum 29 (the reference reads 99 of 199)
    val got = es.get("u1", "big", 29)
    assert(got.exists(_.data.contains("29")))
    // range scan semantics: [10, 15)
    val page = es.query("u1", "big", 10, 5)
    assert(page.map(_.data.get) == Seq("10", "11", "12", "13", "14"))
  }

  test("batch append is atomic and ordered within the batch") {
    val es = freshStore()
    es.append("u1", "s1", (0 until 5).map(i => ev(s"b-$i")))
    assert(es.revision("u1", "s1") == 5)
    assert(es.query("u1", "s1", 0, 5).map(_.id) ==
      (0 until 5).map(i => s"b-$i"))
  }

  test("(source,id) conflict rejected within a batch (O14)") {
    val es = freshStore()
    intercept[SourceIdConflict] {
      es.append("u1", "s1", Seq(ev("dup"), ev("dup")))
    }
    assert(es.revision("u1", "s1") == 0) // nothing committed
  }

  test("(source,id) conflict rejected against committed events (O14)") {
    val es = freshStore()
    es.append("u1", "s1", Seq(ev("e1"), ev("e2")))
    intercept[SourceIdConflict] {
      es.append("u1", "s1", Seq(ev("e3"), ev("e1")))
    }
    assert(es.revision("u1", "s1") == 2) // failed batch fully rolled back
    // same id from a different source is NOT a conflict
    es.append("u1", "s1", Seq(ev("e1", src = "test://other")))
  }

  test("idempotent append: re-delivered batches converge to exactly-once") {
    val es = freshStore()
    val batch = (0 until 3).map(i => ev(s"r-$i"))
    assert(es.appendIdempotent("u1", "s1", batch) == 3)
    // full re-delivery (streaming retry): no-op, no conflict
    assert(es.appendIdempotent("u1", "s1", batch) == 3)
    // partial overlap (retry straddling a new batch): only new ones land
    assert(es.appendIdempotent("u1", "s1",
      Seq(ev("r-2"), ev("r-3"), ev("r-4"))) == 5)
    assert(es.query("u1", "s1", 0, 10).map(_.id) ==
      Seq("r-0", "r-1", "r-2", "r-3", "r-4"))
    // plain append still rejects the duplicate loudly
    intercept[SourceIdConflict] { es.append("u1", "s1", Seq(ev("r-0"))) }
  }

  test("streams metadata + the six sort orders (server.rs:233-248, " +
      "api.rs:320-335)") {
    val es = freshStore()
    es.append("u1", "aaa", Seq(ev("e1"), ev("e2"), ev("e3")))
    es.append("u1", "bbb", Seq(ev("e1", data = Some("\"payload-larger\""))))
    es.append("u2", "other-tenant", Seq(ev("x")))

    val byId = es.streams("u1")
    assert(byId.map(_.id) == Seq("aaa", "bbb")) // u2 invisible: tenancy
    assert(byId.find(_.id == "aaa").get.revision == 3)

    val byRevDesc = es.streams("u1", StreamSort.RevisionDesc)
    assert(byRevDesc.map(_.id) == Seq("aaa", "bbb"))
    val byUsageDesc = es.streams("u1", StreamSort.UsageDesc)
    assert(byUsageDesc.head.usage >= byUsageDesc.last.usage)
    assert(StreamSort.parse("-usage").contains(StreamSort.UsageDesc))
    assert(StreamSort.parse("bogus").isEmpty) // → reference 400

    // scan-derived metadata agrees on ids/revisions (usage differs by
    // design: storage bytes vs serialized-JSON bytes)
    val exact = es.streamsExact("u1")
    assert(exact.map(m => (m.id, m.revision)) ==
      byId.map(m => (m.id, m.revision)))
  }

  test("getStream is an O(1) point lookup: no directory enumeration " +
      "once the head hint is warm, regardless of how many streams the " +
      "user has (server.rs:233-248)") {
    val root = tempDir("es-o1-")
    val es = new EventStore(spark, root)
    (0 until 20).foreach(i => es.append("u1", s"s-$i", Seq(ev(s"e-$i"))))
    // warm the head-version hint for the probed stream
    assert(es.getStream("u1", "s-7").exists(_.revision == 1))
    val before = es.dirListCount.get()
    val meta = es.getStream("u1", "s-7")
    assert(meta.exists(m => m.id == "s-7" && m.revision == 1 &&
      m.usage > 0))
    assert(es.dirListCount.get() == before,
      "warm getStream must not list any directory")
    // even cold (fresh instance), the lookup lists only the ONE stream
    // directory — never the user's 20
    val cold = new EventStore(spark, root)
    val b2 = cold.dirListCount.get()
    assert(cold.getStream("u1", "s-7").exists(_.revision == 1))
    assert(cold.dirListCount.get() - b2 <= 1,
      "cold getStream may list at most the stream's own directory")
    // absent stream: cheap miss, not a listing of everything
    val b3 = cold.dirListCount.get()
    assert(cold.getStream("u1", "nope").isEmpty)
    assert(cold.dirListCount.get() - b3 <= 1)
  }

  test("delete stream removes data and returns existence " +
      "(server.rs:251-261)") {
    val es = freshStore()
    es.append("u1", "gone", Seq(ev("e1")))
    assert(es.deleteStream("u1", "gone"))
    assert(!es.deleteStream("u1", "gone")) // second delete → 404
    assert(es.revision("u1", "gone") == 0)
    assert(es.query("u1", "gone", 0, 10).isEmpty)
  }

  test("catalog recovery after restart (server.rs:72-121) — revisions " +
      "recovered from committed files, unicode ids roundtrip base32, " +
      "and the CATALOG-TABLE fast path agrees with the walk") {
    val dir = tempDir("es-recover-")
    val es1 = new EventStore(spark, dir)
    es1.append("user/with/slashes", "stream säö", Seq(ev("e1"), ev("e2")))
    es1.append("user/with/slashes", "s2", Seq(ev("e1")))
    // fresh instance over the same directory = process restart
    val es2 = new EventStore(spark, dir)
    // the first appends registered both streams in the catalog table,
    // so this recovery takes the table path — and it must equal the
    // reference walk (the per-directory truth) exactly
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, ".catalog")),
      "stream creation must have committed the catalog table")
    assert(es2.recoverCatalog().toSet ==
      Set(("user/with/slashes", "stream säö"), ("user/with/slashes", "s2")))
    assert(es2.recoverCatalog().toSet == es2.walkCatalog().toSet)
    assert(es2.revision("user/with/slashes", "stream säö") == 2)
    // appends continue with dense revisions after recovery
    assert(es2.append("user/with/slashes", "stream säö",
      Seq(ev("e3"))) == 3)
  }

  test("catalog table tracks delete and re-create; reconcile repairs " +
      "an index made stale by an out-of-band directory change") {
    val dir = tempDir("es-cat-")
    val es = new EventStore(spark, dir)
    es.append("u1", "keep", Seq(ev("e1")))
    es.append("u1", "gone", Seq(ev("e1")))
    assert(es.recoverCatalog().toSet ==
      Set(("u1", "keep"), ("u1", "gone")))
    es.deleteStream("u1", "gone")
    assert(es.recoverCatalog().toSet == Set(("u1", "keep")))
    // re-creation is a fresh version-1 commit -> add again
    es.append("u1", "gone", Seq(ev("e2")))
    assert(es.recoverCatalog().toSet ==
      Set(("u1", "keep"), ("u1", "gone")))
    assert(es.recoverCatalog().toSet == es.walkCatalog().toSet)
    // out-of-band removal (crash, external cleanup): the index is
    // stale until reconcile diffs it against the walk
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(dir, Base32.encodeString("u1"),
        Base32.encodeString("gone")).toFile)
    assert(es.reconcileCatalog() == 1)
    assert(es.recoverCatalog().toSet == Set(("u1", "keep")))
    assert(es.reconcileCatalog() == 0) // idempotent once repaired
  }

  test("pre-catalog store migration: the first catalog write seeds the " +
      "FULL walk, so the table path never serves a subset") {
    val dir = tempDir("es-migrate-")
    val es1 = new EventStore(spark, dir)
    es1.append("u1", "old1", Seq(ev("e1")))
    es1.append("u1", "old2", Seq(ev("e1")))
    // simulate a store written before the catalog existed
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(dir, ".catalog").toFile)
    val es2 = new EventStore(spark, dir)
    // a NEW stream's first commit must seed old1/old2 before its own row
    es2.append("u1", "new1", Seq(ev("e1")))
    val es3 = new EventStore(spark, dir)
    assert(es3.recoverCatalog().toSet ==
      Set(("u1", "old1"), ("u1", "old2"), ("u1", "new1")))
    // and a bare recovery on a legacy store walks once, then seeds
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(dir, ".catalog").toFile)
    val es4 = new EventStore(spark, dir)
    val walked = es4.recoverCatalog()
    assert(walked.toSet == es4.walkCatalog().toSet)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(dir, ".catalog")),
      "fallback recovery must seed the catalog table")
  }

  test("CAS race: two writers with the same Exact expectation — exactly " +
      "one commits, the loser sees RevisionMismatch, data stays dense") {
    val es = freshStore()
    es.append("u1", "s1", Seq(ev("base")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val attempts = (0 until 4).map { t =>
      Future {
        try { es.append("u1", "s1", Seq(ev(s"racer-$t")),
          ExpectedRevision.Exact(1)); true }
        catch { case _: RevisionMismatch => false }
      }
    }
    val results = Await.result(Future.sequence(attempts), 120.seconds)
    assert(results.count(identity) == 1) // exactly one winner
    assert(es.revision("u1", "s1") == 2)
    assert(es.query("u1", "s1", 0, 10).size == 2)
  }

  test("concurrent appends to different streams proceed; same stream " +
      "serializes (server.rs:58 DashMap + per-stream mutex)") {
    val es = freshStore()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val futures = (0 until 4).map { t =>
      Future {
        (0 until 5).foreach(i =>
          es.append("u1", s"stream-$t", Seq(ev(s"t$t-$i"))))
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    (0 until 4).foreach { t =>
      assert(es.revision("u1", s"stream-$t") == 5)
      assert(es.query("u1", s"stream-$t", 0, 10).size == 5)
    }
  }

  test("single-event appends leave no orphaned file: every file in the " +
      "stream directory is a manifest or a file the head manifest lists") {
    val root = tempDir("es-orphans-")
    val es = new EventStore(spark, root)
    (0 until 50).foreach(i => es.append("u1", "s1", Seq(ev(s"e-$i"))))
    val dir = java.nio.file.Paths.get(root, Base32.encodeString("u1"),
      Base32.encodeString("s1"))
    val names = {
      val ls = java.nio.file.Files.list(dir)
      try ls.iterator().asScala.map(_.getFileName.toString).toList
      finally ls.close()
    }
    val (manifests, others) = names.partition {
      case EventStore.ManifestFile(_) => true
      case _ => false
    }
    assert(manifests.size == 50)
    val head = EventStore.parseManifest(dir.resolve(manifests.max))
    assert(head.revision == 50)
    assert(others.sorted == (head.files ++ head.keyFiles).sorted,
      s"files beside the manifests that the head does not list: " +
        others.filterNot((head.files ++ head.keyFiles).toSet))
  }
}
