package graft.sources

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{JArr, JNum, JObj, JStr, JValue, Json}
import graft.functions.{st, SparkTestSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import SnapshotTable.{Batch, BucketStat, FileStat}

class SnapshotTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_snap").toString

  private def batchDf(batch: Int, n: Int, parts: Int) =
    spark.range(batch * 10000, batch * 10000 + n, 1, parts)
      .select(col("id"),
        st.mix64(col("id")).as("payload"),
        pmod(st.mix64(col("id") + 7), lit(64L)).as("bucket"))

  /** The lineage the commit path computed before the writers recorded it
    * — kept as the oracle: scan the batch's written files, aggregate rows
    * and the XOR of `xxhash64(<data columns>)` per (file, bucket), and
    * fold that into per-bucket and per-file stats. */
  private def readBackLineage(table: String, b: Batch): (Vector[BucketStat], Vector[FileStat]) = {
    val written = spark.read.parquet(Paths.get(table, "data", s"b${b.batchId}").toString)
      .drop("__zblock")
    val marker = s"/b${b.batchId}/"
    val fine = written
      .groupBy(input_file_name().as("f"), col("bucket"))
      .agg(count(lit(1)), expr(s"bit_xor(xxhash64(${written.columns.mkString(", ")}))"))
      .collect().toVector.map { r =>
        val uri = r.getString(0)
        (uri.substring(uri.lastIndexOf(marker) + marker.length), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    val buckets = fine.groupBy(_._2).map { case (bucket, xs) =>
      BucketStat(bucket, xs.map(_._3).sum, xs.map(_._4).foldLeft(0L)(_ ^ _))
    }.toVector.sortBy(_.bucket)
    val files = fine.groupBy(_._1).map { case (f, xs) =>
      FileStat(f, xs.map(_._2).min, xs.map(_._2).max, xs.map(_._3).sum)
    }.toVector.sortBy(_.file)
    (buckets, files)
  }

  /** A manifest batch with the job UUID taken out of its file names. */
  private def nameless(b: Batch): Batch = {
    def strip(f: String) = f.replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "")
    b.copy(files = b.files.map(strip), fileStats = b.fileStats.map(fs => fs.copy(file = strip(fs.file))))
  }

  test("commit + read-back + lineage metrics") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 5000, 8), dir, "b0", "bucket", Seq("id")))
    assert(SnapshotTable.commitBatch(batchDf(1, 3000, 8), dir, "b1", "bucket", Seq("id")))
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() == 8000)
    val lin = SnapshotTable.lineage(spark, dir)
    assert(lin.agg(sum("rows")).head().getLong(0) == 8000)
    assert(lin.select("batch_id").distinct().count() == 2)
    // snapshot isolation: an orphan parquet in data/ is invisible
    batchDf(9, 100, 1).write.parquet(dir + "/data/borphan")
    assert(SnapshotTable.read(spark, dir).count() == 8000)
  }

  test("manifest file skipping: readRange prunes files under z-order layout") {
    val dir = freshDir()
    // cell-id buckets at res 5 (the zOrderRes layout contract)
    val df = SnapshotTableSpec.cellDf(spark, 20000, res = 5)
    assert(SnapshotTable.commitBatch(df, dir, "b0", "bucket", Seq("id"),
      numPartitions = 8, zOrderRes = 5))
    val snap = SnapshotTable.currentSnapshot(dir)
    assert(snap.batches.head.fileStats.nonEmpty)
    // query one z-order sub-range: pruned read == full read filtered, and
    // the manifest skipped files without opening them
    val cells = df.select("bucket").distinct().orderBy("bucket").as[Long].collect()
    val (lo, hi) = (cells(cells.length / 4), cells(cells.length / 3))
    val (pruned, selected, total) = SnapshotTable.readRange(spark, dir, lo, hi)
    val want = SnapshotTable.read(spark, dir)
      .filter(col("bucket") >= lo && col("bucket") <= hi)
      .select("id").as[Long].collect().sorted.toSeq
    val got = pruned.filter(col("bucket") >= lo && col("bucket") <= hi)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want && want.nonEmpty)
    assert(selected < total, s"no files skipped ($selected of $total)")
    // byte-stability across parallelism holds for the z-order layout too
    val dir2 = freshDir()
    SnapshotTable.commitBatch(df.repartition(3), dir2, "b0", "bucket", Seq("id"),
      numPartitions = 8, zOrderRes = 5)
    assert(SnapshotTable.currentSnapshot(dir).batches.head.fingerprint ==
      SnapshotTable.currentSnapshot(dir2).batches.head.fingerprint)
    // per-file CONTENT layout identical at any input parallelism (names
    // carry task/UUID noise; the (range, rows) multiset is the invariant)
    def shape(d: String) = SnapshotTable.currentSnapshot(d).batches.head.fileStats
      .map(fs => (fs.minBucket, fs.maxBucket, fs.rows)).sorted
    assert(shape(dir) == shape(dir2), "per-file z-order blocks must be parallelism-independent")
  }

  test("compact: many batches -> one, content-verified; vacuum reclaims replaced dirs") {
    val dir = freshDir()
    (0 until 4).foreach { b =>
      assert(SnapshotTable.commitBatch(batchDf(b, 2000, 8), dir, s"b$b", "bucket", Seq("id"),
        numPartitions = 8))
    }
    val fpBefore = SnapshotTable.tableFingerprint(dir)
    val filesBefore = SnapshotTable.currentSnapshot(dir).batches.map(_.files.size).sum
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 4))
    val snap = SnapshotTable.currentSnapshot(dir)
    // one batch, fewer files, identical content fingerprint and rows
    assert(snap.batches.length == 1 && snap.batches.head.files.size < filesBefore)
    assert(SnapshotTable.tableFingerprint(dir) == fpBefore)
    assert(SnapshotTable.read(spark, dir).count() == 8000)
    // lineage survives compaction (per-bucket stats recomputed, same totals)
    assert(SnapshotTable.lineage(spark, dir).agg(sum("rows")).head().getLong(0) == 8000)
    // old batch dirs still on disk (old-version readers), then vacuumed
    val dataDirs = new java.io.File(dir + "/data").list().toSet
    assert((0 until 4).forall(b => dataDirs.contains(s"bb$b")))
    val gone = SnapshotTable.vacuum(dir)
    assert(gone.toSet == (0 until 4).map(b => s"bb$b").toSet)
    assert(SnapshotTable.read(spark, dir).count() == 8000)
    assert(SnapshotTable.tableFingerprint(dir) == fpBefore)
    // nothing further to compact
    assert(!SnapshotTable.compact(spark, dir, "bucket", Seq("id")))
    // recommit after compaction continues the version chain
    assert(SnapshotTable.commitBatch(batchDf(7, 500, 2), dir, "b7", "bucket", Seq("id")))
    assert(SnapshotTable.read(spark, dir).count() == 8500)
  }

  test("time travel: readAt any retained version; selective compact merges only small batches") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 6000, 8), dir, "big", "bucket", Seq("id")))
    assert(SnapshotTable.commitBatch(batchDf(1, 300, 2), dir, "s1", "bucket", Seq("id")))
    assert(SnapshotTable.commitBatch(batchDf(2, 400, 2), dir, "s2", "bucket", Seq("id")))
    // time travel across the commit history
    assert(SnapshotTable.readAt(spark, dir, 1).count() == 6000)
    assert(SnapshotTable.readAt(spark, dir, 2).count() == 6300)
    assert(SnapshotTable.readAt(spark, dir, 3).count() == 6700)
    val fp = SnapshotTable.tableFingerprint(dir)
    // selective: only the two small batches merge; the big one is untouched
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 2,
      onlyBatchesUnderRows = 1000L))
    val snap = SnapshotTable.currentSnapshot(dir)
    assert(snap.batches.map(_.batchId).toSet == Set("big", "c4"))
    assert(snap.batches.find(_.batchId == "c4").get.rows == 700)
    assert(SnapshotTable.tableFingerprint(dir) == fp)
    assert(SnapshotTable.read(spark, dir).count() == 6700)
    // the pre-compaction version still reads (manifests immutable)
    assert(SnapshotTable.readAt(spark, dir, 3).count() == 6700)
    // nothing else under the threshold
    assert(!SnapshotTable.compact(spark, dir, "bucket", Seq("id"),
      onlyBatchesUnderRows = 1000L))
    // vacuum is DESTRUCTIVE for time travel (the documented trade): the
    // replaced small-batch dirs disappear, so the pre-compaction version
    // no longer reads, while the current snapshot is untouched
    val gone = SnapshotTable.vacuum(dir)
    assert(gone.toSet == Set("bs1", "bs2"))
    intercept[Exception] { SnapshotTable.readAt(spark, dir, 3).count() }
    assert(SnapshotTable.read(spark, dir).count() == 6700)
  }

  test("compact preserves z-order fileStats: readRange still skips files") {
    val dir = freshDir()
    val df = SnapshotTableSpec.cellDf(spark, 20000, res = 5)
    assert(SnapshotTable.commitBatch(df.filter(col("id") < 10000), dir, "b0", "bucket",
      Seq("id"), numPartitions = 8, zOrderRes = 5))
    assert(SnapshotTable.commitBatch(df.filter(col("id") >= 10000), dir, "b1", "bucket",
      Seq("id"), numPartitions = 8, zOrderRes = 5))
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"),
      numPartitions = 8, zOrderRes = 5))
    val cells = df.select("bucket").distinct().orderBy("bucket").as[Long].collect()
    val (lo, hi) = (cells(cells.length / 4), cells(cells.length / 3))
    val (pruned, selected, total) = SnapshotTable.readRange(spark, dir, lo, hi)
    val got = pruned.filter(col("bucket") >= lo && col("bucket") <= hi)
      .select("id").as[Long].collect().sorted.toSeq
    val want = df.filter(col("bucket") >= lo && col("bucket") <= hi)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want && want.nonEmpty)
    assert(selected < total, s"compacted manifest skipped no files ($selected of $total)")
  }

  test("optimistic concurrency: racing committers all land, none clobbered") {
    // three writer entry points exist (commitBatch / streamingCommit /
    // compact) — publish must CAS on the version file, not blindly
    // read-modify-write LATEST. Six concurrent committers: every batch must
    // be present afterwards (a lost update would drop one silently).
    val dir = freshDir()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 6).map { b =>
      new Thread(() =>
        try SnapshotTable.commitBatch(batchDf(b, 500, 2), dir, s"t$b", "bucket", Seq("id"))
        catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent commit failed: ${errs.peek()}")
    val snap = SnapshotTable.currentSnapshot(dir)
    assert(snap.version == 6, s"expected 6 snapshot versions, got ${snap.version}")
    assert(snap.batchIds == (0 until 6).map(b => s"t$b").toSet)
    assert(SnapshotTable.read(spark, dir).count() == 3000)
  }

  test("optimistic concurrency: the loser THROWS rather than clobbers (stale lock)") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 500, 2), dir, "b0", "bucket", Seq("id")))
    // simulate a racing winner that already claimed v2: its CREATE_NEW lock
    // exists, so this writer's publish must surface a retryable conflict
    // after its bounded retries — never overwrite
    Files.createFile(java.nio.file.Paths.get(dir, "snapshots", "v2.lock"))
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.commitBatch(batchDf(1, 500, 2), dir, "b1", "bucket", Seq("id"))
    }
    assert(SnapshotTable.currentSnapshot(dir).batchIds == Set("b0"),
      "loser must leave the winner's snapshot untouched")
    // conflict is RETRYABLE: once the contended version clears, the same
    // commit goes through
    Files.delete(java.nio.file.Paths.get(dir, "snapshots", "v2.lock"))
    assert(SnapshotTable.commitBatch(batchDf(1, 500, 2), dir, "b1", "bucket", Seq("id")))
    assert(SnapshotTable.read(spark, dir).count() == 1000)
  }

  test("optimistic concurrency: compact PROPAGATES a conflict (no auto-retry), table unchanged") {
    // a compact that loses a publish race must not retry blindly — the
    // batch set it folded may have changed under it; the conflict
    // surfaces and the table keeps serving the winner's snapshot
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 800, 2), dir, "b0", "bucket", Seq("id")))
    assert(SnapshotTable.commitBatch(batchDf(1, 800, 2), dir, "b1", "bucket", Seq("id")))
    val fp = SnapshotTable.tableFingerprint(dir)
    Files.createFile(java.nio.file.Paths.get(dir, "snapshots", "v3.lock"))
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 2)
    }
    assert(SnapshotTable.currentSnapshot(dir).version == 2)
    assert(SnapshotTable.currentSnapshot(dir).batchIds == Set("b0", "b1"))
    assert(SnapshotTable.tableFingerprint(dir) == fp)
    assert(SnapshotTable.read(spark, dir).count() == 1600)
    // once the contention clears, the same compact succeeds
    Files.delete(java.nio.file.Paths.get(dir, "snapshots", "v3.lock"))
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 2))
    assert(SnapshotTable.tableFingerprint(dir) == fp)
  }

  test("vacuum retention: retained versions keep time travel; older throw clearly") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 1000, 2), dir, "b0", "bucket", Seq("id"))) // v1
    assert(SnapshotTable.commitBatch(batchDf(1, 1000, 2), dir, "b1", "bucket", Seq("id"))) // v2
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 2)) // v3: c3
    assert(SnapshotTable.commitBatch(batchDf(2, 500, 2), dir, "b2", "bucket", Seq("id"))) // v4
    // retain the last two manifests (v3, v4): their batches {c3, b2} stay,
    // the compacted-away originals age out
    val gone = SnapshotTable.vacuum(dir, retainVersions = 2)
    assert(gone.toSet == Set("bb0", "bb1"))
    assert(SnapshotTable.readAt(spark, dir, 3).count() == 2000)
    assert(SnapshotTable.readAt(spark, dir, 4).count() == 2500)
    // outside the window: a CLEAR retention error up front, naming the
    // vacuumed batch dirs — not a parquet FileNotFound mid-scan
    val e = intercept[IllegalStateException] { SnapshotTable.readAt(spark, dir, 2) }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains("bb0"))
    // idempotent: nothing further to reclaim at the same retention
    assert(SnapshotTable.vacuum(dir, retainVersions = 2).isEmpty)
  }

  test("exact resume: interrupted run re-converges to byte-identical table") {
    def runPipeline(dir: String, upTo: Int): Unit =
      (0 until upTo).foreach { b =>
        SnapshotTable.commitBatch(batchDf(b, 2000, 4), dir, s"b$b", "bucket", Seq("id"))
      }
    // uninterrupted run
    val full = freshDir()
    runPipeline(full, 4)
    // interrupted run: stop after 2 batches, then resume from scratch
    val resumed = freshDir()
    runPipeline(resumed, 2)
    // "crash": a partially-written orphan from batch 2
    batchDf(2, 500, 1).write.parquet(resumed + "/data/b2_tmp_orphan")
    runPipeline(resumed, 4) // b0/b1 skipped (manifest), b2/b3 written
    assert(SnapshotTable.tableFingerprint(full) == SnapshotTable.tableFingerprint(resumed))
    // and re-running everything is a no-op
    runPipeline(full, 4)
    assert(SnapshotTable.currentSnapshot(full).version == 4)
  }

  test("full image+caption table through the snapshot layer: bytes + captions survive exactly") {
    val dir = freshDir()
    val images = ImageTable.synthesize(spark, 500).toDF()
      .withColumn("tile", graft.functions.st.cellId(
        graft.operators.SpatialOps.phashLon(col("phash")),
        graft.operators.SpatialOps.phashLat(col("phash")), 7))
    SnapshotTable.commitBatch(images, dir, "b0", "tile", Seq("image_id"), numPartitions = 4)
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() == 500)
    // per-row invariant vs the generator (the "reference" for this table):
    // exact caption equality + exact bytes (PSNR 99 == identical pixels)
    val rows = back.select("image_id", "bytes", "caption", "fmt", "w", "h").collect()
    rows.foreach { r =>
      val id = r.getString(0).drop(3).toLong
      val ref = ImageTable.rowFor(id)
      assert(r.getString(2) == ref.caption, s"caption mismatch for img$id")
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1), ref.bytes), s"bytes img$id")
      assert(ImageTable.psnr(r.getAs[Array[Byte]](1), ref.bytes) == 99.0)
    }
  }

  test("fingerprints independent of parallelism (byte-match determinism)") {
    val a = freshDir(); val b = freshDir()
    SnapshotTable.commitBatch(batchDf(0, 4000, 2), a, "b0", "bucket", Seq("id"), numPartitions = 4)
    SnapshotTable.commitBatch(batchDf(0, 4000, 16), b, "b0", "bucket", Seq("id"), numPartitions = 4)
    assert(SnapshotTable.tableFingerprint(a) == SnapshotTable.tableFingerprint(b))
    val la = SnapshotTable.lineage(spark, a).orderBy("bucket").collect().toSeq
    val lb = SnapshotTable.lineage(spark, b).orderBy("bucket").collect().toSeq
    assert(la == lb)
    // data files byte-identical (canonical sort + fixed partition count)
    def bytes(dir: String): Seq[String] = {
      val d = java.nio.file.Paths.get(dir, "data", "bb0")
      import scala.jdk.CollectionConverters._
      Files.list(d).iterator().asScala.toSeq.filter(_.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
        .map(p => java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))))
    }
    assert(bytes(a) == bytes(b))
  }

  test("writer-recorded lineage equals a read-back of the written files") {
    val cells = SnapshotTableSpec.cellDf(spark, 12000, res = 5)
    for (n <- Seq(4, 6, 8, 16); zOrder <- Seq(true, false)) {
      val dir = freshDir()
      if (zOrder) assert(SnapshotTable.commitBatch(cells, dir, "b0", "bucket", Seq("id"),
        numPartitions = n, zOrderRes = 5))
      else assert(SnapshotTable.commitBatch(batchDf(0, 12000, 8), dir, "b0", "bucket", Seq("id"),
        numPartitions = n))
      val b = SnapshotTable.currentSnapshot(dir).batches.head
      val (buckets, files) = readBackLineage(dir, b)
      val layout = s"${if (zOrder) "z-order" else "hash"} layout, $n partitions"
      assert(b.buckets == buckets, layout)
      assert(b.fileStats.sortBy(_.file) == files, layout)
      assert(b.rows == 12000 && b.fingerprint == buckets.map(_.fingerprint).reduce(_ ^ _), layout)
    }
  }

  test("manifest stores 64-bit bucket ids exactly; older number-valued manifests still parse") {
    val dir = freshDir()
    val df = SnapshotTableSpec.cellDf(spark, 20000, res = 7)
    assert(SnapshotTable.commitBatch(df, dir, "b0", "bucket", Seq("id"),
      numPartitions = 8, zOrderRes = 7))
    val tiles = df.select("bucket").distinct().count()
    assert(SnapshotTable.lineage(spark, dir).select("bucket").distinct().count() == tiles)
    // single-tile reads at every file's exact range ends: a range rounded
    // inwards would skip the file holding that tile
    val full = SnapshotTable.read(spark, dir)
    def inRange(frame: DataFrame, lo: Long, hi: Long) =
      frame.filter(col("bucket").between(lo, hi)).select("id").as[Long].collect().sorted.toSeq
    val ends = SnapshotTable.currentSnapshot(dir).batches.head.fileStats
      .flatMap(fs => Seq(fs.minBucket, fs.maxBucket))
    assert(ends.nonEmpty)
    def checkEnds(): Unit = ends.foreach { c =>
      val want = inRange(full, c, c)
      assert(want.nonEmpty && inRange(SnapshotTable.readRange(spark, dir, c, c)._1, c, c) == want,
        s"readRange($c, $c)")
    }
    checkEnds()
    // the same manifest with bucket ids as JSON numbers, as written before
    val v1 = Paths.get(dir, "snapshots", "v1.json")
    val asNumbers = Set("bucket", "minBucket", "maxBucket")
    def old(v: JValue): JValue = v match {
      case JObj(fs) => JObj(fs.map {
        case (k, JStr(h)) if asNumbers(k) => k -> JNum(java.lang.Long.parseUnsignedLong(h, 16).toDouble)
        case (k, x) => k -> old(x)
      })
      case JArr(xs) => JArr(xs.map(old))
      case x => x
    }
    Files.writeString(v1, old(Json.parse(Files.readString(v1))).render)
    assert(!Files.readString(v1).contains("\"bucket\":\""), "rewrite left hex bucket ids")
    assert(SnapshotTable.currentSnapshot(dir).batches.head.buckets.map(_.rows).sum == 20000)
    checkEnds()
  }

  test("a write task retried after a failed first attempt is counted once") {
    // local[4] allows no task retry, so this commits in a local[4,2] JVM
    val clean = freshDir(); val retried = freshDir()
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
      RetriedSnapshotCommit.getClass.getName.stripSuffix("$"), clean, retried)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, out)
    assert(out.contains("injected failures: 1"), out)
    val (a, b) = (SnapshotTable.currentSnapshot(clean), SnapshotTable.currentSnapshot(retried))
    assert(a.batches.map(nameless) == b.batches.map(nameless))
    assert(SnapshotTable.tableFingerprint(clean) == SnapshotTable.tableFingerprint(retried))
    val (buckets, files) = readBackLineage(retried, b.batches.head)
    assert(b.batches.head.buckets == buckets && b.batches.head.fileStats.sortBy(_.file) == files)
  }

  test("runConcurrently: a failure cancels the sibling bodies' Spark jobs before it rethrows") {
    val sc = spark.sparkContext
    val siblingReturned = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      graft.EntryQueries.runConcurrently(spark, 2) {
        case 0 =>
          // fail once the sibling's job is running
          while (sc.statusTracker.getActiveJobIds().isEmpty) Thread.sleep(20)
          throw new IllegalStateException("first body fails")
        case _ =>
          // three jobs of a minute each
          try (0 until 3).foreach { _ =>
            spark.range(0, 4, 1, 4).as[Long].map { x => Thread.sleep(60000); x }.count()
          }
          finally siblingReturned.set(true)
      }
    }
    assert(e.getMessage == "first body fails")
    assert(siblingReturned.get, "the sibling body outlived the call")
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "a sibling job outlived the call")
    assert((System.nanoTime() - t0) / 1e9 < 30, "the sibling ran on after the failure")
  }
}

object SnapshotTableSpec {
  /** `n` seeded points as (id, res-`res` cell id in `bucket`). */
  def cellDf(spark: SparkSession, n: Int, res: Int): DataFrame =
    spark.range(0, n, 1, 8)
      .select(col("id"),
        (pmod(st.mix64(col("id")), lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
        (pmod(st.mix64(col("id") + 1), lit(170000L)).cast("double") / 1000.0 - 85.0).as("lat"))
      .select(col("id"), st.cellId(col("lon"), col("lat"), res).as("bucket"))
}

/** Commits one z-order batch into two tables under `local[4,2]`: cleanly
  * into the first, and into the second with the first attempt of write
  * task 1 failing at task commit — after its writer has closed its file.
  * Prints the number of injected failures. */
object RetriedSnapshotCommit {
  def main(args: Array[String]): Unit = {
    val Array(clean, retried) = args
    val spark = SparkSession.builder().master("local[4,2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SnapshotTableSpec.cellDf(spark, 20000, res = 5)
    def commit(table: String) = require(SnapshotTable.commitBatch(df, table, "b0", "bucket",
      Seq("id"), numPartitions = 8, zOrderRes = 5))
    commit(clean)
    spark.conf.set("spark.sql.sources.commitProtocolClass", classOf[FailFirstWriteAttempt].getName)
    commit(retried)
    println(s"injected failures: ${FailFirstWriteAttempt.injected.get}")
    spark.stop()
  }
}

/** The default commit protocol, except that the first attempt of write
  * task 1 throws at task commit. */
class FailFirstWriteAttempt(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val tc = TaskContext.get()
    if (tc.partitionId() == 1 && tc.attemptNumber() == 0) {
      FailFirstWriteAttempt.injected.incrementAndGet()
      throw new java.io.IOException("injected failure of a first write attempt")
    }
    super.commitTask(ctx)
  }
}
object FailFirstWriteAttempt { val injected = new java.util.concurrent.atomic.AtomicInteger }
