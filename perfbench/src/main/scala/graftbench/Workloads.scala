package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{EntryQueries, SparkEntry}
import graft.core.{CellIndex, Kernels, Wkb}
import graft.functions.{codecs, st}
import graft.operators.{CacheTracker, Dedup, SpatialOps}
import graft.sources.{ImageTable, SnapshotTable}

/** What an op hands back: the rows it processed and a check of its output,
  * run after the op's timer has stopped. `None` means the output is right. */
final case class OpResult(rows: Long, check: () => Option[String], info: Map[String, Double] = Map.empty)
final case class Op(name: String, kind: String, run: () => OpResult)

/** A workload: fixtures built per session, and the ops of one pass. */
trait Workload {
  def name: String
  /** Ops attempted per pass (closed loop, one after another). */
  def ops(spark: SparkSession, pass: Int): Seq[Op]
  /** The op each set-up ends with; the same whatever the seed. */
  def setupOp(spark: SparkSession, setup: Int): Op = ops(spark, -1 - setup).head
  /** Per-session fixtures; `setup` is 0 for the first session of the run. */
  def prepare(spark: SparkSession, setup: Int): Unit = ()
  /** Untimed cleanup after a pass. */
  def afterPass(pass: Int): Unit = ()
  /** Input rows of one pass; `recordsRead` is what the listener saw. */
  def inputRows(opRows: Long, recordsRead: Long): Long = opRows
  /** Workload-specific facts for the run record (fingerprints, sizes…). */
  def record: Map[String, String] = Map.empty
}

object Workloads {
  /** The two query mixes. They run and are checked like the gated
    * workloads, but are not in BENCHMARK.json (see README.md). */
  val Spatial = Seq("q04_cell_grid", "q05_pip_join", "q06_pip_salted", "q07_knn",
    "q18_haversine", "q19_tile_pyramid", "q20_image_pipeline", "q43_radius_pairs", "q51_range_join")
  val Dedups = Seq("q21_minhash_dedup", "q22_simhash", "q25_embed_neardup", "q29_image_neardup",
    "q36_decontaminate_large", "q39_dedup_groups", "q46_spatial_clusters", "q48_keep_best",
    "q64_pipeline")

  /** A seeded permutation (Fisher–Yates on splitmix64). */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = {
    val a = xs.toBuffer
    var s = seed
    for (i <- a.length - 1 to 1 by -1) {
      s = Kernels.mix64(s + i)
      val j = java.lang.Math.floorMod(s, (i + 1).toLong).toInt
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally st.close()
  }
}

// ---------------------------------------------------------------------------

/** Image rows → pipJoin → tile cell id → snapshot commits into a fresh table,
  * then manifest-pruned range reads over seeded z-order subtrees.
  * `references` maps [[TileIngest.referenceKey]] to the table fingerprint
  * that earlier runs of the same seed and size wrote. */
final class TileIngest(seed: Long, smoke: Boolean, work: Path, plantFingerprint: Boolean,
    references: Map[String, String] = Map.empty) extends Workload {
  val name = "tile_ingest"
  val batchRows: Long = if (smoke) 2000L else 250000L
  val batches: Int = 2
  /** First image id: the seed picks the id range (same size for every seed). */
  val base: Long = java.lang.Math.floorMod(Kernels.mix64(seed), 400000000L)
  val rowsPerPass: Long = batchRows * batches
  val subtreeRes = 2
  /** Seeded res-2 subtrees, each an inclusive range of res-7 tile ids. */
  val subtrees: Seq[(Long, Long)] = {
    val cells = for (x <- 0L until 4L; y <- 0L until 4L) yield (x, y)
    // one read to two commits keeps the median op inside one kind
    Workloads.permute(cells, seed ^ 0x5eedL).take(1).map { case (x, y) =>
      val anchor = CellIndex.encodeXY(x, y, subtreeRes)
      val lo = (7L << 58) | ((anchor & 0x03FFFFFFFFFFFFFFL) << (2 * (7 - subtreeRes)))
      (lo, lo + (1L << (2 * (7 - subtreeRes))) - 1)
    }
  }

  private var polys: DataFrame = _
  /** Reference values from the first setup, from a brute-force
    * point-in-polygon test of every (point, polygon) pair: the joined row
    * count, and per subtree (rows, xor of phash) of the join output. */
  private var expectedRows = -1L
  def joinedRows: Long = expectedRows
  private var expectedRanges: Seq[(Long, Long)] = Nil
  /** Fingerprint every table of the run must have, including the one the
    * traced run writes at local[1]: the stored one of earlier runs of this
    * seed and size if there is one, else the first table's of this run. */
  private val storedFp: Option[String] = references.get(TileIngest.referenceKey(seed, batchRows, batches))
  private var referenceFp: Option[String] = None
  private val fingerprints = scala.collection.mutable.ArrayBuffer.empty[String]
  private var tableNo = 0
  var lastTable: Path = _
  /** (selected, total) files of every range read. */
  val readFiles = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]

  def joined(spark: SparkSession, lo: Long, hi: Long): DataFrame = {
    val images = ImageTable.metaDf(spark, lo, hi)
      .withColumn("lon", SpatialOps.phashLon(col("phash")))
      .withColumn("lat", SpatialOps.phashLat(col("phash")))
    SpatialOps.pipJoin(images.select("image_id", "phash", "lon", "lat"),
        col("lon"), col("lat"), polys, "geom", res = 7)
      .withColumn("tile", st.cellId(col("lon"), col("lat"), 7))
      .select("tile", "image_id", "district", "phash")
  }

  def points(spark: SparkSession): DataFrame =
    ImageTable.metaDf(spark, base, base + rowsPerPass)
      .select(SpatialOps.phashLon(col("phash")).as("lon"), SpatialOps.phashLat(col("phash")).as("lat"))

  override def prepare(spark: SparkSession, setup: Int): Unit = {
    polys = EntryQueries.districtPolygons(spark)
    if (expectedRows < 0) {
      val wkbs = polys.collect().map(_.getAs[Array[Byte]]("geom"))
      // a point outside a polygon's bounding box is not in it
      val boxes = wkbs.map(w => Wkb.read(w).bbox)
      val ranges = Array.fill(subtrees.size)((0L, 0L))
      var rows = 0L
      var id = base
      while (id < base + rowsPerPass) {
        val (lon, lat) = TileIngest.lonLat(id)
        val hits = wkbs.indices.count { i =>
          val (x0, y0, x1, y1) = boxes(i)
          lon >= x0 && lon <= x1 && lat >= y0 && lat <= y1 && Kernels.containsWkb(wkbs(i), lon, lat)
        }
        if (hits > 0) {
          rows += hits
          val tile = CellIndex.encode(lon, lat, 7)
          val ph = Kernels.phashFor(id)
          for (i <- subtrees.indices if tile >= subtrees(i)._1 && tile <= subtrees(i)._2) {
            val (n, x) = ranges(i)
            // each joined row carries the phash; an even count cancels out
            ranges(i) = (n + hits, if (hits % 2 == 1) x ^ ph else x)
          }
        }
        id += 1
      }
      expectedRows = rows
      expectedRanges = ranges.toSeq
    }
  }

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    tableNo += 1
    val table = work.resolve(s"tables/t$tableNo")
    Workloads.deleteTree(table)
    lastTable = table
    val commits = (0 until batches).map { b =>
      Op(s"commit_b$b", "commit", () => {
        val lo = base + b * batchRows
        val ok = SnapshotTable.commitBatch(joined(spark, lo, lo + batchRows), table.toString,
          s"b$b", "tile", Seq("image_id", "district"), numPartitions = 8, zOrderRes = 7)
        OpResult(batchRows, () =>
          if (!ok) Some(s"commitBatch b$b returned false")
          else if (b < batches - 1) None
          else checkTable(table))
      })
    }
    val reads = subtrees.zipWithIndex.map { case ((lo, hi), i) =>
      Op(s"read_r$i", "read", () => {
        val (df, sel, total) = SnapshotTable.readRange(spark, table.toString, lo, hi)
        val r = df.filter(col("tile").between(lo, hi))
          .agg(count(lit(1)), coalesce(bit_xor(col("phash")), lit(0L))).head()
        readFiles += ((sel, total))
        val got = (r.getLong(0), r.getLong(1))
        OpResult(got._1, () =>
          if (got != expectedRanges(i)) Some(s"readRange $i: $got != ${expectedRanges(i)}") else None,
          Map("files_selected" -> sel.toDouble, "files_total" -> total.toDouble))
      })
    }
    commits ++ reads
  }

  /** The whole table must hold every joined row, and its fingerprint must
    * equal the reference. */
  private def checkTable(table: Path): Option[String] = {
    val (rows, fp) = SnapshotTable.tableFingerprint(table.toString)
    val got = TileIngest.fpString(rows, fp)
    fingerprints += got
    if (referenceFp.isEmpty) referenceFp = Some {
      val ref = storedFp.getOrElse(got)
      // a planted defect: the reference with its lowest bit flipped
      if (plantFingerprint) ref.dropRight(1) + java.lang.Long.toHexString(
        java.lang.Long.parseLong(ref.takeRight(1), 16) ^ 1L) else ref
    }
    if (rows != expectedRows) Some(s"table rows $rows != brute-force PIP rows $expectedRows")
    else if (!referenceFp.contains(got)) Some(s"fingerprint $got != reference ${referenceFp.get}")
    else None
  }

  /** Commits one pass's batches into a fresh table; its fingerprint. */
  def commitOnly(spark: SparkSession): String = {
    val commits = ops(spark, 0).filter(_.kind == "commit")
    commits.foreach(_.run())
    val (rows, fp) = SnapshotTable.tableFingerprint(lastTable.toString)
    if (rows != expectedRows) sys.error(s"seed $seed: table rows $rows != brute-force PIP rows $expectedRows")
    afterPass(0)
    TileIngest.fpString(rows, fp)
  }

  override def inputRows(opRows: Long, recordsRead: Long): Long = rowsPerPass

  override def afterPass(pass: Int): Unit = {
    // keep only the latest table (the traced run reads its files)
    if (tableNo > 1) Workloads.deleteTree(work.resolve(s"tables/t${tableNo - 1}"))
  }

  override def record: Map[String, String] = Map(
    "rows_per_pass" -> rowsPerPass.toString, "batches" -> batches.toString,
    "first_id" -> base.toString, "joined_rows" -> expectedRows.toString,
    "fingerprints" -> J.arr(fingerprints.distinct.map(J.str)),
    "reference_fingerprint" -> referenceFp.fold("null")(J.str),
    "reference_from" -> J.str(if (storedFp.nonEmpty) "stored" else "first_table"))
}

object TileIngest {
  def fpString(rows: Long, fp: Long): String = s"$rows:${java.lang.Long.toHexString(fp)}"

  /** Key of a stored reference fingerprint: seed and table size. */
  def referenceKey(seed: Long, batchRows: Long, batches: Int): String = s"s$seed/${batchRows}x$batches"

  /** Writes the table fingerprint of every seed in `seeds` ("a-b"), at full
    * and at smoke size, as a flat JSON object for later runs to compare
    * against. */
  def writeFingerprints(seeds: String, work: Path, out: Path): Unit = {
    val Array(lo, hi) = (seeds + "-" + seeds).split("-").take(2).map(_.toLong)
    val spark = Main.session("local[4]", work)
    EntryQueries.ensureRegistered(spark)
    val entries = for (s <- lo to hi; smoke <- Seq(false, true)) yield {
      val t = new TileIngest(s, smoke, work.resolve(s"fp$s"), plantFingerprint = false)
      t.prepare(spark, 0)
      val fp = t.commitOnly(spark)
      Workloads.deleteTree(work.resolve(s"fp$s"))
      val key = referenceKey(s, t.batchRows, t.batches)
      println(s"$key $fp")
      J.str(key) + ": " + J.str(fp)
    }
    spark.stop()
    Files.write(out, entries.mkString("{\n ", ",\n ", "\n}\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** An image id's point, as `SpatialOps.phashLon`/`phashLat` derive it. */
  def lonLat(id: Long): (Double, Double) = {
    val ph = Kernels.phashFor(id)
    ((ph >>> 32).toDouble / 4294967296.0 * 360.0 - 180.0,
      (ph & 0xFFFFFFFFL).toDouble / 4294967296.0 * 170.0 - 85.0)
  }
}

// ---------------------------------------------------------------------------

/** A fixed list of the engine's DuckDB-gated queries over the bundled
  * tables, in a seeded order. Each op collects one query's result and checks
  * its checksum against the oracle's. */
final class QueryMix(val name: String, queries: Seq[String], seed: Long, dataDir: String,
    expected: Map[String, String], plantChecksum: Boolean, smoke: Boolean) extends Workload {
  /** Seeded order; the smoke mode runs only its first three queries. */
  val order: Seq[String] = Workloads.permute(queries, seed).take(if (smoke) 3 else queries.size)
  private val fns = SparkEntry.queries
  private val want: Map[String, String] =
    if (plantChecksum) expected.updated(order.head, "0:planted") else expected
  /** Result rows of each query's last run (q21's feeds a per-layer ratio). */
  val resultRows = scala.collection.mutable.Map.empty[String, Long]

  def ops(spark: SparkSession, pass: Int): Seq[Op] = order.map(op(spark, _))

  override def setupOp(spark: SparkSession, setup: Int): Op = op(spark, queries.head)

  private def op(spark: SparkSession, q: String): Op =
    Op(q, "query", () => {
      val df = fns(q)(spark, dataDir)
      val rows = try df.collect() finally CacheTracker.releaseAll()
      resultRows(q) = rows.length.toLong
      OpResult(rows.length.toLong, () => {
        val got = Canon.checksum(rows, df.columns.toSeq)
        want.get(q) match {
          case None => Some(s"$q: no expected checksum")
          case Some(w) if w != got => Some(s"$q: checksum $got != expected $w")
          case _ => None
        }
      })
    })

  override def inputRows(opRows: Long, recordsRead: Long): Long = recordsRead

  override def record: Map[String, String] = Map(
    "order" -> J.arr(order.map(J.str)), "data" -> J.str(dataDir))

}

object QueryMix {
  val Q21 = "q21_minhash_dedup"

  /** q21's verified pairs ÷ the `Dedup.minhashCandidates` rows it verifies;
    * q21 is run here unless its row count is given. */
  def dedupVerifyRatio(spark: SparkSession, dataDir: String, q21Rows: Option[Long]): Double = {
    val verified = q21Rows.getOrElse(
      try SparkEntry.queries(Q21)(spark, dataDir).count() finally CacheTracker.releaseAll())
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    val cands = try Dedup.minhashCandidates(docs, col("doc_id"), col("text")).count()
      finally CacheTracker.releaseAll()
    verified.toDouble / Math.max(1L, cands)
  }
}

// ---------------------------------------------------------------------------

/** Seeded GeoJSON FeatureCollections run through the codec expressions:
  * GeoJSON→KML→GeoJSON, GeoJSON→GPX→GeoJSON and GeoJSON→WKB→WKT→WKB, each
  * twice; the second round trip must reproduce the first byte for byte. */
final class CodecRoundtrip(seed: Long, smoke: Boolean) extends Workload {
  val name = "codec_roundtrip"
  val batches: Int = if (smoke) 2 else 4
  val perBatch: Int = if (smoke) 100 else 800
  val featuresPer: Int = CodecData.FeaturesPer
  private var frames: Vector[DataFrame] = Vector.empty
  /** (id, collection json, one of its geometries) per batch. */
  private lazy val inputs: Vector[Seq[(Long, String, String)]] = (0 until batches).map { b =>
    (0 until perBatch).map { i =>
      val id = b.toLong * perBatch + i
      val fc = CodecData.collection(seed, id)
      (id, CodecData.render(fc), fc.features((id % featuresPer).toInt)._1)
    }
  }.toVector

  override def prepare(spark: SparkSession, setup: Int): Unit = {
    // drop the previous set-up's frames (they went away with a stopped context)
    frames.filterNot(_.sparkSession.sparkContext.isStopped).foreach(_.unpersist())
    import spark.implicits._
    frames = inputs.map { rows =>
      val df = spark.sparkContext.parallelize(rows, 4).toDF("id", "fc", "geom").cache()
      df.count()
      df
    }.toVector
  }

  def ops(spark: SparkSession, pass: Int): Seq[Op] = frames.zipWithIndex.map { case (df, b) =>
    Op(s"batch_$b", "codec", () => {
      val first = df.select(
        codecs.kmlToGeojson(codecs.geojsonToKml(col("fc"))).as("k1"),
        codecs.gpxToGeojson(codecs.geojsonToGpx(col("fc"))).as("g1"),
        st.geomFromGeoJson(col("geom")).as("w1"))
      val second = first.select(col("k1"), col("g1"), col("w1"),
        codecs.kmlToGeojson(codecs.geojsonToKml(col("k1"))).as("k2"),
        codecs.gpxToGeojson(codecs.geojsonToGpx(col("g1"))).as("g2"),
        st.asWkt(col("w1")).as("t1"))
      val third = second.select(col("*"), st.geomFromWkt(col("t1")).as("w2"))
        .select(col("*"), st.asWkt(col("w2")).as("t2"))
      def bad(c: org.apache.spark.sql.Column) = sum(when(c, 0L).otherwise(1L))
      val r = third.agg(count(lit(1)),
        bad(col("k1") <=> col("k2") && col("k1").isNotNull),
        bad(col("g1") <=> col("g2") && col("g1").isNotNull),
        bad(col("t1") <=> col("t2") && col("w1") <=> col("w2") && col("w1").isNotNull),
        sum(length(col("k1"))), sum(length(col("g1"))), sum(length(col("t1")))).head()
      val n = r.getLong(0)
      OpResult(n * featuresPer, () => {
        val errs = Seq("kml" -> r.getLong(1), "gpx" -> r.getLong(2), "wkt" -> r.getLong(3))
          .filter(_._2 != 0).map { case (k, v) => s"$k fixpoint broken on $v rows" }
        if (n != perBatch) Some(s"batch $b: $n rows != $perBatch")
        else if (errs.nonEmpty) Some(s"batch $b: " + errs.mkString(", "))
        else if (r.getLong(4) == 0 || r.getLong(5) == 0 || r.getLong(6) == 0) Some(s"batch $b: empty output")
        else None
      }, Map("kml_chars" -> r.getLong(4).toDouble, "gpx_chars" -> r.getLong(5).toDouble))
    })
  }

  override def record: Map[String, String] = Map(
    "collections_per_pass" -> (batches * perBatch).toString,
    "features_per_collection" -> featuresPer.toString,
    "vertices_per_collection" -> CodecData.VerticesPer.toString)
}
