package graft.sources

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{Json, JValue, JObj, JArr, JStr, JNum}

/** Minimal Iceberg-style snapshot/manifest table layout on Parquet
  * (SURVEY.md §7.1 — no Iceberg jar ships offline; swapping in real Iceberg
  * later is a sink change only):
  *
  * {{{
  *   table/
  *     data/b<batchId>/part-*.parquet      (z-order bucketed, sorted)
  *     snapshots/v<k>.json                 (full manifest at version k)
  *     snapshots/LATEST                    (current version number)
  * }}}
  *
  * Each snapshot records, per committed batch: the data files, row count,
  * an order-independent content fingerprint (XOR of per-row xxhash64 over
  * all columns — identical at any parallelism), per-bucket lineage metrics
  * (rows + fingerprint per z-order bucket) and per-file [min,max] bucket
  * stats. The parquet writers fold these while they write the rows
  * ([[LineageParquetFormat]]), so a commit is one write job plus a
  * manifest publish — the written files are never scanned again. Bucket
  * ids and fingerprints are stored as unsigned hex strings (exact for
  * 64-bit cell ids); manifests that stored bucket ids as JSON numbers
  * still parse. This gives:
  *
  *  - exact resume: a re-run skips batches already in the manifest and
  *    produces a byte-identical table (checkpoint/resume mandate)
  *  - per-partition lineage + metrics for the scaling/byte-match gates
  *  - snapshot isolation: readers list files from a manifest version, never
  *    the directory (orphan files from killed writers are invisible)
  */
object SnapshotTable {

  /** Thrown when two writers race to publish the same next snapshot version
    * — the loser's data files are intact but unreferenced; re-read the
    * current snapshot and retry the publish (a [[commitBatch]] retries
    * automatically; a [[compact]] must NOT auto-retry, its source set may
    * have changed under it). */
  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  final case class BucketStat(bucket: Long, rows: Long, fingerprint: Long)
  /** Iceberg-manifest-style per-file column stats: the min/max of the
    * z-order bucket column per data file, recorded at commit so readers can
    * skip whole files from the manifest alone (see [[readRange]]). */
  final case class FileStat(file: String, minBucket: Long, maxBucket: Long, rows: Long)
  final case class Batch(batchId: String, files: Vector[String], rows: Long,
      fingerprint: Long, buckets: Vector[BucketStat],
      fileStats: Vector[FileStat] = Vector.empty)
  final case class Snapshot(version: Int, batches: Vector[Batch]) {
    def batchIds: Set[String] = batches.map(_.batchId).toSet
  }

  // ---------------- manifest io ----------------

  private def snapDir(table: String): Path = Paths.get(table, "snapshots")

  def currentVersion(table: String): Int = {
    val latest = snapDir(table).resolve("LATEST")
    var v = if (Files.exists(latest)) Files.readString(latest).trim.toInt else 0
    // heal the publish gap: a writer creates v{N+1}.json (the CAS token)
    // BEFORE updating LATEST — if it crashed or hasn't gotten there yet, the
    // newer version file IS the committed truth (its CREATE_NEW succeeded);
    // probing forward keeps every reader/writer on the real head instead of
    // spinning conflicts against a stale LATEST
    while (Files.exists(snapDir(table).resolve(s"v${v + 1}.json"))) v += 1
    v
  }

  def currentSnapshot(table: String): Snapshot = {
    val v = currentVersion(table)
    if (v == 0) Snapshot(0, Vector.empty)
    else parseSnapshot(Files.readString(snapDir(table).resolve(s"v$v.json")))
  }

  private def hex(v: Long): JStr = JStr(java.lang.Long.toHexString(v))

  private def renderSnapshot(s: Snapshot): String =
    JObj.of(
      "version" -> JNum(s.version),
      "batches" -> JArr(s.batches.map { b =>
        JObj.of(
          "batchId" -> JStr(b.batchId),
          "files" -> JArr(b.files.map(JStr(_))),
          "rows" -> JNum(b.rows),
          "fingerprint" -> hex(b.fingerprint),
          "buckets" -> JArr(b.buckets.map { st =>
            JObj.of("bucket" -> hex(st.bucket), "rows" -> JNum(st.rows),
              "fingerprint" -> hex(st.fingerprint))
          }),
          "fileStats" -> JArr(b.fileStats.map { fs =>
            JObj.of("file" -> JStr(fs.file), "minBucket" -> hex(fs.minBucket),
              "maxBucket" -> hex(fs.maxBucket), "rows" -> JNum(fs.rows))
          }))
      })).render

  private def parseSnapshot(s: String): Snapshot = {
    val o = Json.parse(s).asInstanceOf[JObj]
    def num(v: JValue): Double = v.asInstanceOf[JNum].v
    def str(v: JValue): String = v.asInstanceOf[JStr].v
    def long(v: JValue): Long = v match {
      case JStr(h) => java.lang.Long.parseUnsignedLong(h, 16)
      case JNum(d) => d.toLong // bucket ids of manifests written as JSON numbers
      case other => throw new IllegalArgumentException(s"not a manifest long: $other")
    }
    val batches = o("batches").asInstanceOf[JArr].items.map { bv =>
      val b = bv.asInstanceOf[JObj]
      Batch(
        str(b("batchId")),
        b("files").asInstanceOf[JArr].items.map(str),
        num(b("rows")).toLong,
        long(b("fingerprint")),
        b("buckets").asInstanceOf[JArr].items.map { sv =>
          val st = sv.asInstanceOf[JObj]
          BucketStat(long(st("bucket")), num(st("rows")).toLong, long(st("fingerprint")))
        },
        // absent in pre-round-2 manifests: falls back to no file skipping
        b.get("fileStats").map(_.asInstanceOf[JArr].items.map { fv =>
          val fs = fv.asInstanceOf[JObj]
          // a JSON-number range is only as exact as a double: widen it by an
          // ulp each way so readRange never skips a file with rows in range
          def bound(v: JValue, dir: Int): Long = v match {
            case JNum(d) => d.toLong + dir * math.ulp(d).toLong
            case _ => long(v)
          }
          FileStat(str(fs("file")), bound(fs("minBucket"), -1), bound(fs("maxBucket"), 1),
            num(fs("rows")).toLong)
        }).getOrElse(Vector.empty))
    }
    Snapshot(num(o("version")).toInt, batches)
  }

  // ---------------- write path ----------------

  /** Commit one batch: skip if `batchId` is already in the manifest (exact
    * resume). Data is partitioned on `bucketCol` into `numPartitions` files
    * and sorted within partitions by (`bucketCol`, `sortCols`) — byte-stable
    * at any parallelism. Returns true if written, false if skipped.
    *
    * Concurrency: DISTINCT batchIds may commit concurrently — each writes
    * its own data dir and [[publish]] CASes the snapshot version (losers
    * retry). Two writers racing the SAME batchId remain the caller's
    * exclusion to provide (they would race Spark's overwrite inside one
    * dir): sequential same-id replay is the supported resume shape, which
    * is what Structured Streaming's epoch contract delivers.
    *
    * Layout: NOT repartitionByRange — its boundaries are sampled from the
    * input layout and vary with parallelism, breaking file byte-stability.
    * Instead:
    *  - `zOrderRes ≥ 0` (bucket values are cell ids at that res): partition
    *    by the high bits of the cell's morton code — a pure function of the
    *    value that is both byte-stable AND range-clustered, so each file
    *    covers a contiguous z-order block and the manifest's per-file
    *    [min,max] bucket stats ([[readRange]]) actually skip files.
    *  - otherwise: plain hash placement (byte-stable; each bucket whole in
    *    one file; no cross-file range clustering).
    */
  def commitBatch(df: DataFrame, table: String, batchId: String,
      bucketCol: String, sortCols: Seq[String], numPartitions: Int = 16,
      zOrderRes: Int = -1): Boolean = {
    val snap = currentSnapshot(table)
    if (snap.batchIds.contains(batchId)) return false
    val batch = writeBatch(df, table, batchId, bucketCol, sortCols,
      numPartitions, zOrderRes)
    // lock-free commit: publish CASes on the version file; on conflict the
    // batch's data files are untouched (they live under this batchId's own
    // dir), so re-reading the winner's snapshot and re-appending is safe —
    // unless the winner already committed this very batchId (resume race).
    // The snapshot parsed above is reused unless another writer published
    // during the write; a conflict always re-reads.
    var cur = if (currentVersion(table) == snap.version) snap else currentSnapshot(table)
    var attempts = 0
    while (true) {
      if (cur.batchIds.contains(batchId)) return false
      try {
        publish(table, Snapshot(cur.version + 1, cur.batches :+ batch))
        return true
      } catch {
        case e: ConcurrentCommitException =>
          // a winner that claimed the lock may not have finished its
          // tmp→move yet (currentVersion can't advance past the lock until
          // the manifest lands) — back off and re-read; ~2s of total grace
          // covers GC pauses on a loaded host before surfacing the conflict
          attempts += 1
          if (attempts >= 24) throw e
          Thread.sleep(7L * attempts)
          cur = currentSnapshot(table)
      }
    }
    false // unreachable
  }

  /** Write one batch's data files + compute its manifest stats WITHOUT
    * publishing a snapshot (shared by [[commitBatch]] and [[compact]]). */
  private def writeBatch(df: DataFrame, table: String, batchId: String,
      bucketCol: String, sortCols: Seq[String], numPartitions: Int,
      zOrderRes: Int): Batch = {
    require(df.schema(bucketCol).dataType == LongType,
      s"bucket column $bucketCol must be a long, got ${df.schema(bucketCol).dataType}")
    val batchDir = Paths.get(table, "data", s"b$batchId")
    // clean leftovers from a killed writer (invisible to readers anyway)
    if (Files.exists(batchDir)) deleteRec(batchDir)

    val writer = if (zOrderRes >= 0) {
      // z-order block = high bits of the cell's morton code — a pure
      // function of the value. partitionBy makes the block a DIRECTORY, so
      // each data file holds exactly one contiguous morton block: per-file
      // [min,max] stats become tight and readRange skips precisely. Blocks
      // are placed on tasks by id (block mod n), not by hash, so no two
      // blocks share a write task while another task sits empty.
      val block = graft.operators.SpatialOps.zBlock(col(bucketCol), zOrderRes, numPartitions)
      df.withColumn("__zblock", block)
        .repartitionById(numPartitions, pmod(col("__zblock"), lit(numPartitions.toLong)).cast("int"))
        .sortWithinPartitions(col("__zblock") +: (bucketCol +: sortCols).map(col): _*)
        .write.partitionBy("__zblock")
    } else {
      // generic buckets: hash placement (byte-stable; each bucket whole in
      // one file) — no cross-file range clustering, readRange reads all
      df.repartition(numPartitions, col(bucketCol))
        .sortWithinPartitions((bucketCol +: sortCols).map(col): _*)
        .write
    }
    // per-file, per-bucket lineage is folded by the parquet writers from
    // the rows they write (__zblock is a directory, not a data column, so
    // fingerprints cover the data columns only)
    val written = LineageParquetFormat.record(df.sparkSession, bucketCol) { opts =>
      writer.format(classOf[LineageParquetFormat].getName).options(opts)
        .mode("overwrite").save(batchDir.toString)
    }

    val walk = Files.walk(batchDir)
    val files =
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => batchDir.relativize(p).toString)
        .toVector.sorted
      finally walk.close()
    val byFile = written.map(f => f.file -> f.buckets).toMap
    if (byFile.size != written.size || byFile.keySet != files.toSet)
      throw new IllegalStateException(s"batch $batchId: writer stats cover " +
        s"${written.map(_.file).sorted.mkString(", ")} but the committed files are " +
        files.mkString(", "))
    // a file that got no rows has the empty [min > max] range, always skippable
    val fileStats = files.map { f =>
      val bs = byFile(f)
      if (bs.isEmpty) FileStat(f, 0L, -1L, 0L)
      else FileStat(f, bs.map(_.bucket).min, bs.map(_.bucket).max, bs.map(_.rows).sum)
    }
    val bucketStats = written.flatMap(_.buckets).groupBy(_.bucket).map { case (bucket, xs) =>
      BucketStat(bucket, xs.map(_.rows).sum, xs.map(_.fingerprint).foldLeft(0L)(_ ^ _))
    }.toVector.sortBy(_.bucket)
    val totalRows = bucketStats.map(_.rows).sum
    val totalFp = bucketStats.map(_.fingerprint).foldLeft(0L)(_ ^ _)

    Batch(batchId, files, totalRows, totalFp, bucketStats, fileStats)
  }

  /** Publish snapshot `next` with an optimistic-concurrency check: the
    * version file is created with CREATE_NEW, so of two writers that both
    * read version N and race to publish N+1, exactly one wins — the loser
    * gets a retryable [[ConcurrentCommitException]] instead of silently
    * clobbering the winner's snapshot (a blind read-modify-write of LATEST
    * would lose one writer's batches). LATEST is written only by the winner,
    * after its version file exists. */
  private def publish(table: String, next: Snapshot): Unit = {
    Files.createDirectories(snapDir(table))
    // the CAS token is a CREATE_NEW (O_CREAT|O_EXCL — truly atomic) lock
    // file, separate from the manifest itself so the manifest can be written
    // tmp-then-rename: readers probing forward only ever see a COMPLETE
    // v{N}.json (a CREATE_NEW writeString would expose partially-written
    // JSON under the final name)
    try Files.createFile(snapDir(table).resolve(s"v${next.version}.lock"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(
          s"concurrent commit: snapshot v${next.version} already published by " +
            s"another writer — re-read the current snapshot and retry")
    }
    val tmp = snapDir(table).resolve(s".v${next.version}.json.tmp")
    Files.writeString(tmp, renderSnapshot(next))
    Files.move(tmp, snapDir(table).resolve(s"v${next.version}.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.writeString(snapDir(table).resolve("LATEST"), next.version.toString)
  }

  /** Compact every committed batch into ONE batch — the small-file answer
    * for a long-running ingest (hundreds of micro-batch commits each with
    * `numPartitions` files ⇒ listing/open overhead dominates scans; the
    * Iceberg `rewrite_data_files` analog). Reads the current snapshot,
    * rewrites the union under the standard byte-stable layout as batch
    * `c<newVersion>`, VERIFIES content (rows + order-independent XOR
    * fingerprint must equal the source snapshot — on mismatch the new
    * files are removed and compact throws; the table is never corrupted),
    * then publishes a snapshot whose batch list is the single compacted
    * batch. `onlyBatchesUnderRows` makes it INCREMENTAL: only batches
    * under the threshold merge (bin-pack the accumulated small commits,
    * leave the big historical batches alone). Old batch directories stay
    * on disk for old-version readers (snapshot isolation — [[readAt]]);
    * reclaim them with [[vacuum]] once no reader needs them. Returns
    * false when there is nothing to compact. */
  def compact(spark: SparkSession, table: String, bucketCol: String,
      sortCols: Seq[String], numPartitions: Int = 16,
      zOrderRes: Int = -1,
      onlyBatchesUnderRows: Long = Long.MaxValue): Boolean = {
    val snap = currentSnapshot(table)
    // selective (incremental) mode: only batches under the row threshold
    // are merged — at ingest scale rewriting the big historical batches
    // every maintenance cycle would dwarf the ingest itself; the default
    // threshold folds everything (full compaction)
    val (small, big) = snap.batches.partition(_.rows < onlyBatchesUnderRows)
    if (small.length <= 1) return false
    val srcRows = small.map(_.rows).sum
    val srcFp = small.map(_.fingerprint).foldLeft(0L)(_ ^ _)
    val batchId = s"c${snap.version + 1}"
    val src = readSnapshot(spark, table, Snapshot(snap.version, small))
    val batch = writeBatch(src, table, batchId, bucketCol,
      sortCols, numPartitions, zOrderRes)
    if (batch.rows != srcRows || batch.fingerprint != srcFp) {
      deleteRec(Paths.get(table, "data", s"b$batchId"))
      throw new IllegalStateException(
        s"compact: rewritten content mismatch (rows ${batch.rows} vs $srcRows, " +
          s"fp ${batch.fingerprint.toHexString} vs ${srcFp.toHexString}) — aborted, table unchanged")
    }
    publish(table, Snapshot(snap.version + 1, big :+ batch))
    true
  }

  /** Delete data directories referenced by NO batch of the last
    * `retainVersions` snapshots (orphans from killed writers, batches
    * replaced by [[compact]] that have aged out of the retention window).
    * Time travel via [[readAt]] keeps working for every retained version;
    * older versions' manifests stay readable as metadata but their
    * vacuumed data dirs are gone — [[readAt]] detects that and throws a
    * clear retention error rather than a parquet FileNotFound mid-scan.
    * `retainVersions = 1` (the default) keeps only the current snapshot —
    * maximal reclaim, all history destroyed; run that only once no
    * old-version reader exists. Returns the deleted directory names. */
  def vacuum(table: String, retainVersions: Int = 1): Seq[String] = {
    require(retainVersions >= 1, s"retainVersions must be >= 1: $retainVersions")
    val dataDir = Paths.get(table, "data")
    if (!Files.exists(dataDir)) return Nil
    val cur = currentVersion(table)
    val live = (math.max(1, cur - retainVersions + 1) to cur).flatMap { v =>
      snapshotAt(table, v).batches.map(b => s"b${b.batchId}")
    }.toSet
    val listing = Files.list(dataDir)
    val gone =
      try listing.iterator().asScala
        .filter(p => !live.contains(p.getFileName.toString)).toVector
      finally listing.close()
    gone.foreach(deleteRec)
    gone.map(_.getFileName.toString)
  }

  // ---------------- read path ----------------

  /** Read the table at its current snapshot (only manifest-listed files). */
  def read(spark: SparkSession, table: String): DataFrame =
    readSnapshot(spark, table, currentSnapshot(table))

  /** Time travel: read the table AS OF an earlier snapshot version —
    * manifests are immutable and retained, so any version remains readable
    * until [[vacuum]]'s retention window drops the data dirs it references
    * (then this throws a clear retention error, checked up front, rather
    * than a parquet FileNotFound mid-scan). */
  def readAt(spark: SparkSession, table: String, version: Int): DataFrame = {
    require(version >= 1 && version <= currentVersion(table),
      s"version $version out of [1, ${currentVersion(table)}]")
    val snap = snapshotAt(table, version)
    val missing = snap.batches.map(_.batchId)
      .filterNot(id => Files.exists(Paths.get(table, "data", s"b$id")))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"snapshot v$version is no longer readable: batch dir(s) " +
        s"${missing.map("b" + _).mkString(", ")} were vacuumed (outside the " +
        s"retention window) — only versions whose data dirs were retained " +
        s"support time travel")
    readSnapshot(spark, table, snap)
  }

  private def snapshotAt(table: String, version: Int): Snapshot =
    parseSnapshot(Files.readString(snapDir(table).resolve(s"v$version.json")))

  private def readSnapshot(spark: SparkSession, table: String, snap: Snapshot): DataFrame = {
    val paths = snap.batches.flatMap(b =>
      b.files.map(f => Paths.get(table, "data", s"b${b.batchId}", f).toString))
    if (paths.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(paths: _*)
  }

  /** Manifest-level file skipping: read only the files whose recorded
    * bucket range overlaps [lo, hi] — the planner never even lists the
    * skipped files (coarser than, and complementary to, parquet row-group
    * pruning). Files from pre-fileStats manifests are conservatively read.
    * The caller still applies its exact predicate; this is a superset scan,
    * like every manifest prune. Returns (frame, selectedFiles, totalFiles).
    */
  def readRange(spark: SparkSession, table: String, lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val snap = currentSnapshot(table)
    var total = 0
    val paths = snap.batches.flatMap { b =>
      val statted = b.fileStats.map(_.file).toSet
      val keep = b.fileStats.filter(fs => fs.maxBucket >= lo && fs.minBucket <= hi).map(_.file) ++
        b.files.filterNot(statted.contains) // no stats recorded → cannot skip
      total += b.files.length
      keep.map(f => Paths.get(table, "data", s"b${b.batchId}", f).toString)
    }
    val df = if (paths.isEmpty) spark.emptyDataFrame else spark.read.parquet(paths: _*)
    (df, paths.length, total)
  }

  /** Manifest-level file skipping for a DISCRETE bucket set (the IVF-probe
    * shape: read only the probed clusters): keep files whose [min,max]
    * bucket range contains ANY requested bucket. Same superset-scan
    * contract as [[readRange]]; files without stats are read. Returns
    * (frame, selectedFiles, totalFiles). */
  def readBuckets(spark: SparkSession, table: String,
      buckets: Seq[Long]): (DataFrame, Int, Int) = {
    val want = buckets.sorted
    def hits(lo: Long, hi: Long): Boolean = {
      // first requested bucket >= lo, then check it is <= hi
      var a = 0; var b = want.length
      while (a < b) { val m = (a + b) >>> 1; if (want(m) < lo) a = m + 1 else b = m }
      a < want.length && want(a) <= hi
    }
    val snap = currentSnapshot(table)
    var total = 0
    val paths = snap.batches.flatMap { b =>
      val statted = b.fileStats.map(_.file).toSet
      val keep = b.fileStats.filter(fs => hits(fs.minBucket, fs.maxBucket)).map(_.file) ++
        b.files.filterNot(statted.contains)
      total += b.files.length
      keep.map(f => Paths.get(table, "data", s"b${b.batchId}", f).toString)
    }
    val df = if (paths.isEmpty) spark.emptyDataFrame else spark.read.parquet(paths: _*)
    (df, paths.length, total)
  }

  /** Lineage metrics of the current snapshot as a DataFrame. */
  def lineage(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    currentSnapshot(table).batches.flatMap { b =>
      b.buckets.map(st => (b.batchId, st.bucket, st.rows, st.fingerprint))
    }.toDF("batch_id", "bucket", "rows", "fingerprint")
  }

  /** Whole-table fingerprint (order-independent). */
  /** Exactly-once streaming ingest: wires a streaming DataFrame into a
    * snapshot table through `foreachBatch`. Structured Streaming delivers
    * micro-batches at-least-once after recovery (a failed epoch replays
    * with the SAME batch id); [[commitBatch]]'s manifest batch-id dedup
    * makes the sink idempotent, so the composition is exactly-once — the
    * continuous-ingest half of the checkpoint/resume mandate. The caller
    * starts the returned writer (checkpointLocation, trigger). Batch ids
    * are `s<epochId>`; the source must replay epochs deterministically
    * (the Structured Streaming file/Kafka source contract). */
  def streamingCommit(stream: DataFrame, table: String, bucketCol: String,
      sortCols: Seq[String], numPartitions: Int = 16, zOrderRes: Int = -1)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (df: DataFrame, epochId: Long) =>
      commitBatch(df, table, s"s$epochId", bucketCol, sortCols,
        numPartitions, zOrderRes)
      ()
    }

  def tableFingerprint(table: String): (Long, Long) = {
    val snap = currentSnapshot(table)
    (snap.batches.map(_.rows).sum, snap.batches.map(_.fingerprint).foldLeft(0L)(_ ^ _))
  }

  private[graft] def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      // Files.list holds a directory handle until closed — an unclosed
      // stream per directory leaks handles across a long-running ingest
      // driver's periodic compact+vacuum cycles
      val listing = Files.list(p)
      val children = try listing.iterator().asScala.toVector finally listing.close()
      children.foreach(deleteRec)
    }
    Files.deleteIfExists(p)
  }
}
