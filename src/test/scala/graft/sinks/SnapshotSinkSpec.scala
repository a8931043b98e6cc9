package graft.sinks

import graft.SparkSpec
import java.nio.file.{Files, Paths, Path => JPath}
import scala.jdk.CollectionConverters._

class SnapshotSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-snap").toString + "/snap"

  private def log(rows: (Long, String, Long, String)*) =
    rows.toSeq.toDF("seq", "op", "id", "v")

  /** content fingerprint of every file under a dir, keyed by relative path */
  private def fingerprint(dir: JPath): Map[String, Int] =
    Files.walk(dir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString ->
        java.util.Arrays.hashCode(Files.readAllBytes(f)))
      .toMap

  test("merge applies LWW with tombstones; read hides bookkeeping") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    sink.merge(log((1, "insert", 1, "a"), (2, "insert", 2, "b")))
    sink.merge(log((3, "update", 1, "a2"), (4, "delete", 2, "b")))
    val got = sink.read().select("id", "v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a2"))
    assert(sink.read().columns.toSet == Set("id", "v"))
  }

  test("re-merging the same batch is idempotent (the foreachBatch-retry contract)") {
    // ann_stream_serve and the IVM entries rely on this: a retried
    // micro-batch re-merges identical (rows, seq) and must leave the
    // state byte-for-byte unchanged, so a post-merge probe re-reads
    // IDENTICAL state
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    sink.merge(log((1, "insert", 1, "a"), (1, "insert", 2, "b")))
    val b2 = log((2, "update", 1, "a2"), (2, "delete", 2, "b"),
      (2, "insert", 3, "c"))
    sink.merge(b2)
    val once = sink.read().select("id", "v").as[(Long, String)].collect().toMap
    sink.merge(b2) // the retry
    val twice = sink.read().select("id", "v").as[(Long, String)].collect().toMap
    assert(once == twice && once == Map(1L -> "a2", 3L -> "c"))
  }

  test("replace swaps the whole snapshot: absent keys vanish without " +
      "tombstones, later merges apply on top, applied ids carry") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    assert(sink.mergeOnce(7L, log((1, "insert", 1, "a"), (1, "insert", 2, "b"),
      (1, "insert", 3, "c"))))
    // epoch write: id 2 is simply absent from the new state — no delete
    // row anywhere in the batch
    sink.replace(log((2, "update", 1, "a2"), (2, "insert", 9, "z")))
    val got = sink.read().select("id", "v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a2", 9L -> "z"))
    // applied-id ranges carried across the replace (a replayed batch 7
    // still skips)
    assert(sink.applied(7L) && !sink.applied(8L))
    assert(!sink.mergeOnce(7L, log((9, "insert", 5, "x"))))
    // normal merging continues against the replaced state
    sink.merge(log((3, "delete", 9, "z"), (3, "insert", 4, "d")))
    val after = sink.read().select("id", "v").as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "a2", 4L -> "d"))
    // an empty replace empties the sink without wedging it
    sink.replace(log())
    assert(sink.read().count() == 0L)
    sink.merge(log((4, "insert", 6, "e")))
    assert(sink.read().select("id", "v").as[(Long, String)].collect().toMap
      == Map(6L -> "e"))
  }

  test("mergeOnce skips a replayed batch id even when the replay differs") {
    // seq-LWW covers identical-row replays; the batch-id guard covers the
    // harder case — a recomputed delta/retraction batch whose inputs read
    // state that already advanced would produce DIFFERENT rows on retry
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    assert(sink.mergeOnce(1L, log((1, "insert", 1, "a"))))
    assert(!sink.mergeOnce(1L, log((9, "update", 1, "POISON"))),
      "replayed id must be a no-op")
    assert(sink.read().select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a"))
    assert(sink.mergeOnce(2L, log((2, "update", 1, "b"))))
    assert(sink.read().select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "b"))
  }

  test("late lower-seq change cannot resurrect a delete or roll back an image") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    sink.merge(log((5, "delete", 1, "x"), (6, "update", 2, "new")))
    sink.merge(log((1, "insert", 1, "zombie"), (2, "update", 2, "old")))
    val got = sink.read().select("id", "v").as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "new"))
  }

  test("merge rewrites only touched buckets; untouched bucket files stay byte-identical") {
    val path = tmp()
    val n = 8
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = n)
    // seed enough keys that every bucket is populated
    sink.merge((1L to 200L).map(i => (i, "insert", i, s"v$i")).toDF("seq", "op", "id", "v"))
    // which bucket holds key 42?
    val touchedBucket = sink.readInternal()
      .filter($"id" === 42L).select("__bucket").as[Int].head()
    def dataOnly(fp: Map[String, Int]): Map[String, Int] =
      fp.filter(_._1.startsWith("data/"))
    val before = dataOnly(fingerprint(Paths.get(path)))
    sink.merge(log((1000, "update", 42, "updated")))
    val after = dataOnly(fingerprint(Paths.get(path)))
    val pre = s"data/__bucket=$touchedBucket/"
    assert(before.filter(!_._1.startsWith(pre)) == after.filter(!_._1.startsWith(pre)),
      "untouched bucket files changed")
    assert(before.keySet.filter(_.startsWith(pre)) != after.keySet.filter(_.startsWith(pre)),
      "touched bucket must move to a new generation")
    assert(sink.read().filter($"id" === 42L).select("v").as[String].head() == "updated")
  }

  test("a read after a crashed merge serves the committed state and reaps garbage") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    sink.merge((1L to 50L).map(i => (i, "insert", i, s"v$i")).toDF("seq", "op", "id", "v"))
    val all = sink.read().count()
    // simulate a merge that crashed AFTER staging new generations but
    // BEFORE the manifest commit: an uncommitted __gen dir with poison
    // content, stale staging, and a manifest tmp
    val bucketDir = Files.list(Paths.get(path, "data")).iterator().asScala
      .find(_.getFileName.toString.startsWith("__bucket=")).get
    Files.createDirectories(bucketDir.resolve("__gen=99"))
    Files.write(bucketDir.resolve("__gen=99").resolve("poison.parquet"),
      Array[Byte](1, 2, 3))
    Files.createDirectories(Paths.get(path, ".staging", "junk"))
    Files.write(Paths.get(path, "manifest", "v99.tmp"), Array[Byte](9))
    // the planted garbage imitates a crash of a PRIOR process, so start
    // this one "fresh": the clean-path flag must not carry over a JVM
    // death (in-process failures leave it dirty on their own — next test)
    SnapshotSink.simulateRestartFor(path)
    // read() serves the committed manifest — uncommitted generations are
    // invisible — and recover() reaps them
    assert(sink.read().count() == all)
    assert(!Files.exists(bucketDir.resolve("__gen=99")))
    assert(!Files.exists(Paths.get(path, ".staging")))
    assert(!Files.exists(Paths.get(path, "manifest", "v99.tmp")))
  }

  test("clean-path fast flag: quiescent reads skip the recovery walk; " +
      "any mid-protocol failure re-arms it") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    sink.merge(log((1, "insert", 1, "a"), (1, "insert", 2, "b")))
    sink.read().count() // post-merge walk done; sink is quiescent and clean
    // plant recognizable garbage; a CLEAN-path read must NOT walk (and so
    // must NOT reap) — this pins the fast path actually being taken
    val junk = Paths.get(path, ".staging", "junk")
    Files.createDirectories(junk)
    assert(sink.read().count() == 2)
    assert(Files.exists(junk),
      "clean-path read must skip the recovery walk (garbage untouched)")
    // an in-process mid-protocol failure dirties the flag: the next op
    // walks and reaps BOTH the crash's own staging and the planted junk
    sink.faultHook = pt => if (pt == "staged") sys.error("injected crash")
    intercept[Exception] { sink.merge(log((2, "update", 1, "a2"))) }
    sink.faultHook = _ => ()
    assert(sink.read().count() == 2)
    assert(!Files.exists(Paths.get(path, ".staging")),
      "a failed merge must re-arm recovery on the next op")
    // and a completed merge leaves the sink clean again
    sink.merge(log((3, "update", 1, "a3")))
    val junk2 = Paths.get(path, ".staging", "junk2")
    Files.createDirectories(junk2)
    assert(sink.read().select("v").as[String].collect().toSet == Set("a3", "b"))
    assert(Files.exists(junk2), "commit+gc must restore the clean path")
  }

  test("a merge after a crashed merge converges (replay idempotence)") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    val batch1 = (1L to 50L).map(i => (i, "insert", i, s"v$i")).toDF("seq", "op", "id", "v")
    sink.merge(batch1)
    val batch2 = (51L to 80L).map(i => (i, "insert", i, s"v$i")).toDF("seq", "op", "id", "v")
    // crash between staging and commit: the manifest never advances
    sink.faultHook = pt => if (pt == "before-commit") sys.error("injected crash")
    intercept[Exception] { sink.merge(batch2) }
    sink.faultHook = _ => ()
    // state is UNCHANGED (the crash point is pre-commit by construction)
    assert(sink.read().count() == 50)
    // foreachBatch replays the batch; the replay applies cleanly
    sink.merge(batch2)
    val got = sink.read().select("id", "v").as[(Long, String)].collect().toMap
    assert(got == (1L to 80L).map(i => i -> s"v$i").toMap)
  }

  test("crash injection: data and applied-id commit ATOMICALLY at every fault point") {
    // The r09 design wrote the applied-batch marker AFTER the bucket swap,
    // leaving a window (merge committed, marker missing, crash) where a
    // replayed RECOMPUTED delta would re-apply — this spec is RED on that
    // path: a "crash" between data-commit and marker-write leaves poison
    // re-appliable. With the manifest commit log there is no such point:
    // at every injectable crash site either BOTH the data and the id are
    // committed, or NEITHER is.
    for (crashAt <- Seq("staged", "before-commit", "after-commit")) {
      val path = tmp()
      val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
      assert(sink.mergeOnce(0L, log((1, "insert", 1, "base"))))
      sink.faultHook = pt => if (pt == crashAt) sys.error(s"injected crash at $pt")
      intercept[Exception] { sink.mergeOnce(1L, log((2, "update", 1, "delta"))) }
      sink.faultHook = _ => ()
      val applied = sink.read().select("v").as[String].head() == "delta"
      // the invariant the commit log buys: applied-state and applied-id
      // advance together. A POISON replay of the same id must be a no-op
      // iff the data landed; a clean replay must apply iff it didn't.
      if (applied) {
        assert(!sink.mergeOnce(1L, log((9, "update", 1, "POISON"))),
          s"crash at $crashAt: id must be recorded with the data")
        assert(sink.read().select("v").as[String].head() == "delta")
      } else {
        assert(sink.mergeOnce(1L, log((2, "update", 1, "delta"))),
          s"crash at $crashAt: unapplied id must replay")
        assert(sink.read().select("v").as[String].head() == "delta")
      }
      // and the crash points behave as designed: pre-commit crashes leave
      // state untouched, post-commit crashes (GC lost) leave it applied
      assert(applied == (crashAt == "after-commit"), s"crash at $crashAt")
    }
  }

  test("replace crash injection: the epoch swap is atomic at every fault point") {
    // the scan-regime write path gets the same crash discipline as merge:
    // at every injectable site the sink serves EITHER the whole old epoch
    // or the whole new one — never a mix — and a retried replace (the
    // caller's replay) converges
    for (crashAt <- Seq("staged", "before-commit", "after-commit")) {
      val path = tmp()
      val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
      sink.merge(log((1, "insert", 1, "a"), (1, "insert", 2, "b")))
      sink.faultHook = pt => if (pt == crashAt) sys.error(s"injected crash at $pt")
      intercept[Exception] { sink.replace(log((2, "insert", 3, "c"))) }
      sink.faultHook = _ => ()
      val got = sink.read().select("id", "v").as[(Long, String)].collect().toMap
      if (crashAt == "after-commit")
        assert(got == Map(3L -> "c"), s"crash at $crashAt: epoch committed")
      else
        assert(got == Map(1L -> "a", 2L -> "b"),
          s"crash at $crashAt: old epoch must survive intact")
      sink.replace(log((2, "insert", 3, "c")))
      assert(sink.read().select("id", "v").as[(Long, String)].collect().toMap
        == Map(3L -> "c"), s"crash at $crashAt: retry must converge")
      sink.merge(log((3, "insert", 4, "d")))
      assert(sink.read().select("id", "v").as[(Long, String)].collect().toMap
        == Map(3L -> "c", 4L -> "d"), s"crash at $crashAt: merges continue")
    }
  }

  test("manifest retention: applied ids compact to ranges, old manifests reaped") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    (0L to 6L).foreach { b =>
      assert(sink.mergeOnce(b, log((b + 1, "insert", b, s"v$b"))))
    }
    assert(sink.read().count() == 7)
    // manifest dir holds a bounded window (default retention: CURRENT
    // only), not one file per batch; no `.applied` sibling dir at all
    val manifests = Files.list(Paths.get(path, "manifest")).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq // drop local-FS .crc sidecars
    assert(manifests.toSet == Set("v7"), s"got $manifests")
    assert(!Files.exists(Paths.get(path + ".applied")))
    // the 7 sequential ids collapsed to one range line
    val text = new String(Files.readAllBytes(Paths.get(path, "manifest", "v7")))
    assert(text.linesIterator.count(_.startsWith("applied")) == 1)
    assert(text.contains("applied 0 6"))
  }

  test("an empty FIRST batch does not wedge the sink (zero-bucket manifest)") {
    // foreachBatch can legitimately deliver an empty micro-batch before any
    // data batch; the sink must record the id, serve an empty snapshot, and
    // accept later merges — not commit a zero-bucket manifest that every
    // subsequent read/merge rejects
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    assert(sink.mergeOnce(0L, log().limit(0)))
    assert(sink.exists)
    assert(sink.read().count() == 0, "empty first batch reads as empty snapshot")
    assert(!sink.mergeOnce(0L, log((9, "insert", 1, "POISON"))),
      "the empty batch's id must be recorded")
    assert(sink.mergeOnce(1L, log((1, "insert", 1, "a"), (2, "insert", 2, "b"))))
    assert(sink.read().select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b"))
    // and the un-id'd merge() path too
    val path2 = tmp()
    val sink2 = new SnapshotSink(spark, path2, Seq("id"), numBuckets = 4)
    sink2.merge(log().limit(0))
    assert(sink2.read().count() == 0)
    sink2.merge(log((1, "insert", 7, "x")))
    assert(sink2.read().count() == 1)
  }

  test("consecutive empty id-carrying batches keep manifest retention bounded") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    assert(sink.mergeOnce(0L, log((1, "insert", 1, "a"))))
    (1L to 5L).foreach(b => assert(sink.mergeOnce(b, log().limit(0))))
    val manifests = Files.list(Paths.get(path, "manifest")).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq
    assert(manifests.toSet == Set("v6"),
      s"empty-batch commits must gc old manifests, got $manifests")
    assert(sink.read().select("v").as[String].head() == "a")
  }

  test("readGrace: a pre-merge read() plan survives exactly one subsequent merge") {
    // the external-caller contract of a SERVING sink: with readGrace on,
    // generation retention matches manifest retention (current +
    // predecessor), so a lazy read taken under manifest v stays evaluable
    // across the merge that commits v+1 and serves v's state (immutable
    // generations = snapshot isolation)
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4,
      readGrace = true)
    sink.merge(log((1, "insert", 1, "a"), (2, "insert", 2, "b")))
    val preMerge = sink.read()
    sink.merge(log((3, "update", 1, "a2"), (4, "insert", 3, "c")))
    assert(preMerge.select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b"),
      "pre-merge plan must evaluate against its pinned (retained) generations")
    assert(sink.read().select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("default retention is current-only: the next merge reaps a pre-merge plan's generations") {
    // harness-internal sinks pay no grace tax (r11 measured ~+21% on the
    // sink-heaviest bench line for a contract nothing internal used):
    // after a merge, only the CURRENT manifest and its generations remain
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    sink.merge(log((1, "insert", 1, "a"), (2, "insert", 2, "b")))
    sink.merge(log((3, "update", 1, "a2")))
    val manifests = Files.list(Paths.get(path, "manifest")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("v"))
      .map(_.drop(1).toLong).toSet
    assert(manifests == Set(2L), s"current-only manifests expected: $manifests")
    // per bucket: exactly the ONE generation the current manifest names
    // (untouched buckets legitimately keep their older generation; the
    // touched bucket's superseded one is reaped at commit, not one merge
    // later)
    Files.list(Paths.get(path, "data")).iterator().asScala.foreach { bd =>
      val gens = Files.list(bd).iterator().asScala
        .map(_.getFileName.toString.stripPrefix("__gen=").toLong).toSeq
      assert(gens.size == 1,
        s"bucket ${bd.getFileName} must hold exactly its current generation: $gens")
    }
    // and the post-merge state is intact
    assert(sink.read().select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 2L -> "b"))
  }

  test("generation retention tracks manifest retention exactly across merges (grace mode)") {
    // after each committed merge: every bucket holds generations referenced
    // by the CURRENT manifest or its predecessor — nothing older (no leak),
    // nothing newer (no uncommitted residue)
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 2,
      readGrace = true)
    (1L to 4L).foreach { b =>
      sink.merge(log((b, "insert", 1, s"v$b"), (b, "insert", 2, s"w$b")))
      val manifests = Files.list(Paths.get(path, "manifest")).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("v"))
        .map(_.drop(1).toLong).toSet
      assert(manifests == Set(b, b - 1).filter(_ >= 1), s"after merge $b: $manifests")
      val gens = Files.list(Paths.get(path, "data")).iterator().asScala.flatMap { bd =>
        Files.list(bd).iterator().asScala
          .map(_.getFileName.toString.stripPrefix("__gen=").toLong)
      }.toSeq
      assert(gens.toSet.subsetOf(manifests),
        s"after merge $b: generations $gens exceed retained manifests $manifests")
      assert(gens.toSet.contains(b), s"after merge $b: current generation missing")
    }
  }

  test("readBuckets: keyed reads return exactly the keys' live rows and list only their buckets") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 8)
    sink.merge(log((0L until 64L).map(i => (1L, "insert", i, s"v$i")): _*))
    sink.merge(log((5L, "delete", 3L, "x"), (6L, "update", 7L, "v7b")))
    // bucket-pruned read semi-joined to the keys = the point-read path
    val keys = Seq(3L, 7L, 11L).toDF("id")
    val got = sink.readBuckets(keys)
      .join(keys, Seq("id"), "left_semi")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(got == Map(7L -> "v7b", 11L -> "v11"),
      s"point reads must see LWW-current live rows only: $got")
    // the pruned frame is a strict subset of the full read (only the
    // keys' hash buckets are listed), and agrees with it row-for-row
    val full = sink.read().select("id", "v").as[(Long, String)].collect().toMap
    val pruned = sink.readBuckets(keys)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(pruned.size < full.size, "pruning must skip unrelated buckets")
    assert(pruned.forall { case (k, v) => full(k) == v })
    // an empty key set reads nothing (an empty frontier ends the walk)
    assert(sink.readBuckets(Seq.empty[Long].toDF("id")).isEmpty)
  }

  test("bucketIdOf / bucketIdExpr agree with the executor-computed bucketIds " +
      "for long (incl. negative) and string keys") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 7)
    val longs = Seq(-1L, 0L, 3L, -42L, 123456789L, Long.MinValue, Long.MaxValue)
    val frameIds = sink.bucketIds(longs.toDF("id"))
    val driverIds = longs.map(k => sink.bucketIdOf(k)).toSet
    assert(driverIds == frameIds,
      s"driver-side hash must match executor hash: $driverIds vs $frameIds")
    // per-key agreement, not just set equality
    longs.foreach { k =>
      assert(Set(sink.bucketIdOf(k)) == sink.bucketIds(Seq(k).toDF("id")),
        s"key $k")
    }
    val ssink = new SnapshotSink(spark, tmp(), Seq("term"), numBuckets = 5)
    val strs = Seq("@segremap", "@doc", "", "hello")
    strs.foreach { k =>
      assert(Set(ssink.bucketIdOf(k)) == ssink.bucketIds(Seq(k).toDF("term")),
        s"key $k")
    }
    // the fusable expression path (checkpointIntSet metric) = bucketIds
    val (_, obsSet) = graft.core.Fused.checkpointIntSet(
      longs.toDF("id"), sink.bucketIdExpr(org.apache.spark.sql.functions.col("id")))
    assert(obsSet == frameIds)
  }

  test("Ranges properties: random add orders compact minimally; contains = membership (randomized)") {
    import SnapshotSink.Ranges
    import org.scalacheck.{Gen, Prop}
    val genIds: Gen[List[Long]] =
      Gen.listOf(Gen.choose(0L, 40L)).map(_.take(30))
    val p = Prop.forAll(genIds) { ids =>
      val rs = ids.foldLeft(List.empty[(Long, Long)])(Ranges.add)
      val members = ids.toSet
      // membership agrees with the direct definition on the whole domain
      val membershipOk = (0L to 41L).forall(i => Ranges.contains(rs, i) == members(i))
      // minimal compaction: ranges are sorted, non-empty, and separated by
      // gaps of at least one missing id (adjacent ranges must have merged)
      val sortedOk = rs == rs.sortBy(_._1)
      val wellFormed = rs.forall { case (lo, hi) => lo <= hi }
      val gapsOk = rs.zip(rs.drop(1)).forall { case ((_, h1), (l2, _)) => l2 > h1 + 1 }
      // size = number of maximal runs in the id set
      val runs = members.toSeq.sorted.foldLeft(0 -> -2L) {
        case ((n, prev), i) => (if (i == prev + 1) n else n + 1, i)
      }._1
      membershipOk && sortedOk && wellFormed && gapsOk && rs.size == runs
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), p)
    assert(result.passed, result.status.toString)
  }

  test("isMaterializedShallow: narrow ops over materialized leaves skip the merge copy; scans/joins don't") {
    import spark.implicits._
    val ck = Seq((1L, "a"), (2L, "b")).toDF("k", "s").localCheckpoint()
    assert(SnapshotSink.isMaterializedShallow(ck), "a checkpointed frame")
    assert(SnapshotSink.isMaterializedShallow(
      ck.withColumn("op", org.apache.spark.sql.functions.lit("I"))
        .unionByName(ck.withColumn("op", org.apache.spark.sql.functions.lit("D")))
        .filter($"k" > 0)),
      "projections/filters/unions over checkpointed leaves")
    assert(SnapshotSink.isMaterializedShallow(
      Seq((1L, "x")).toDF("k", "s")), "a local relation")
    val dir = graft.analytics.Q.scratch("shallowspec")
    ck.write.parquet(s"$dir/p")
    assert(!SnapshotSink.isMaterializedShallow(spark.read.parquet(s"$dir/p")),
      "a file scan must keep the defensive copy")
    assert(!SnapshotSink.isMaterializedShallow(ck.join(ck.select($"k"), Seq("k"))),
      "a join must keep the defensive copy")
    assert(!SnapshotSink.isMaterializedShallow(ck.groupBy($"k").count()),
      "an aggregate must keep the defensive copy")
    // merge evaluates the batch plan at least twice; a nondeterministic
    // expression over a checkpointed leaf can DISAGREE between the
    // touched-bucket collect and the staged write — must keep the copy
    assert(!SnapshotSink.isMaterializedShallow(
      ck.withColumn("r", org.apache.spark.sql.functions.rand())),
      "a nondeterministic projection must keep the defensive copy")
    assert(!SnapshotSink.isMaterializedShallow(
      ck.filter(org.apache.spark.sql.functions.rand() > 0.0)),
      "a nondeterministic filter must keep the defensive copy")
    // createDataFrame over a lazily-recomputed RDD also plans as a
    // LogicalRDD leaf, but its blocks are NOT materialized — every
    // evaluation re-runs the upstream computation
    val lazyRdd = spark.sparkContext
      .parallelize(Seq(org.apache.spark.sql.Row(1L, "a")))
    val lazyDf = spark.createDataFrame(lazyRdd,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, s STRING"))
    assert(!SnapshotSink.isMaterializedShallow(lazyDf),
      "a non-checkpointed LogicalRDD leaf must keep the defensive copy")
    assert(SnapshotSink.isMaterializedShallow(lazyDf.localCheckpoint()),
      "the same leaf, checkpointed, skips the copy")
  }

  test("the manifest records the stored schema; an old manifest without it still reads") {
    val path = tmp()
    val sink = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    sink.merge(log((1, "insert", 1, "a"), (2, "insert", 2, "b"), (3, "insert", 3, "c")))
    sink.merge(log((4, "update", 1, "a2"), (5, "delete", 3, "c")))
    def manifests = Files.list(Paths.get(path, "manifest")).iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith("v"))
    assert(manifests.size == 1)
    val text = new String(Files.readAllBytes(manifests.head), "UTF-8")
    val schemaLine = text.linesIterator.find(_.startsWith("schema ")).getOrElse(
      fail(s"no schema line in the manifest:\n$text"))
    assert(org.apache.spark.sql.types.DataType.fromJson(schemaLine.stripPrefix("schema "))
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("id", "v", "__seq", "__deleted"))
    assert(jobsIn("snapshot-read-plan")(sink.read()) == 0,
      "a read with the recorded schema plans without an inference job")
    val expected = Map(1L -> "a2", 2L -> "b")
    val internal = sink.readInternal()
    assert(sink.read().select("id", "v").as[(Long, String)].collect().toMap == expected)

    // the layout written before the schema line existed (its checksum
    // file goes too, or the local filesystem rejects the edited bytes)
    Files.delete(manifests.head.resolveSibling(s".${manifests.head.getFileName}.crc"))
    Files.write(manifests.head, text.linesIterator.filterNot(_.startsWith("schema "))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    SnapshotSink.simulateRestartFor(path)
    val reader = new SnapshotSink(spark, path, Seq("id"), numBuckets = 4)
    assert(reader.read().select("id", "v").as[(Long, String)].collect().toMap == expected)
    // inference reads the same columns and types, bookkeeping included
    assert(reader.readInternal().schema == internal.schema)
    // and a merge on top of the old manifest writes a schema line again
    reader.merge(log((6, "insert", 4, "d")))
    assert(reader.read().select("id", "v").as[(Long, String)].collect().toMap ==
      expected + (4L -> "d"))
    assert(manifests.exists(f =>
      new String(Files.readAllBytes(f), "UTF-8").contains("\nschema ")))
  }

  test("Ranges: add/contains compact adjacent and out-of-order ids") {
    import SnapshotSink.Ranges
    var rs = List.empty[(Long, Long)]
    Seq(3L, 4L, 5L, 9L, 7L, 8L, 1L).foreach(id => rs = Ranges.add(rs, id))
    assert(rs == List((1L, 1L), (3L, 5L), (7L, 9L)))
    rs = Ranges.add(rs, 2L) // bridges 1 and 3-5
    assert(rs == List((1L, 5L), (7L, 9L)))
    rs = Ranges.add(rs, 6L) // bridges everything
    assert(rs == List((1L, 9L)))
    assert(Ranges.contains(rs, 1L) && Ranges.contains(rs, 9L) && Ranges.contains(rs, 5L))
    assert(!Ranges.contains(rs, 0L) && !Ranges.contains(rs, 10L))
    assert(Ranges.add(rs, 5L) == rs, "re-adding a contained id is a no-op")
  }
}
