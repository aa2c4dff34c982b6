package graftbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.EntryQueries
import graft.codecs.{GpxCodec, KmlCodec}
import graft.core.{CellIndex, GeoJson, Kernels, Wkb, Wkt}
import graft.functions.st
import graft.sources.SnapshotTable

/** Per-layer metrics of a traced run. Each comes either from the listener
  * records of the traced passes or from timing the engine's public layer
  * functions directly, on inputs derived from the run's seed. A metric that
  * does not apply to the workload is reported as 0. */
object Layers {
  val PerLayer: Seq[(String, String)] = Seq(
    "core.cell_encode_ns" -> "ns", "core.pip_ns" -> "ns", "core.cover_cells" -> "count",
    "core.geojson_read_us" -> "us", "core.wkt_write_us" -> "us", "core.wkt_read_us" -> "us",
    "codecs.kml_write_us" -> "us", "codecs.kml_read_us" -> "us",
    "codecs.gpx_write_us" -> "us", "codecs.gpx_read_us" -> "us",
    "functions.register_ms" -> "ms", "functions.reregistered" -> "count",
    "plans.plan_ms" -> "ms", "plans.exchanges" -> "count", "plans.plan_kb" -> "KiB",
    "operators.pip_candidates" -> "count", "operators.pip_hit_ratio" -> "ratio",
    "operators.actions_per_op" -> "count", "operators.dedup_verify_ratio" -> "ratio",
    "sources.write_mb" -> "MB", "sources.files_written" -> "count", "sources.bytes_per_row" -> "B",
    "sources.manifest_ms" -> "ms", "sources.skip_ratio" -> "ratio",
    "sources.commit_p50_s" -> "s", "sources.read_p50_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.driver_s" -> "s", "exec.slot_busy" -> "ratio", "exec.stage_skew" -> "ratio",
    "exec.task_failures" -> "count", "exec.scaling_eff" -> "ratio",
    "trace.wall_untraced_s" -> "s", "trace.wall_traced_s" -> "s", "trace.overhead_s" -> "s",
    "trace.spans" -> "count", "fail_ratio" -> "ratio")

  @volatile private var sink = 0L

  /** Median over `reps` timed repetitions (after one untimed) of the time
    * per item, in seconds. */
  private def perItem(items: Long, reps: Int = 5)(body: => Long): Double = {
    sink += body
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); sink += body; (System.nanoTime() - t0) / 1e9
    }
    Stats.median(ts) / Math.max(1L, items)
  }

  def collect(spark: SparkSession, wl: Workload, tracer: Tracer, seed: Long, dataDir: String,
      passes: Seq[Main.PassRec], ops: Seq[Main.OpRec], exec: ExecRecorder,
      localOnePass: () => Double): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val traced = passes.filter(_.traced)
    val untraced = passes.filter(!_.traced)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    // ---- exec: listener counts of the spans under each traced pass
    val spans = tracer.all
    def counts(ids: Seq[Int]): Map[String, Double] =
      ids.flatMap(exec.countsFor).foldLeft(Map.empty[String, Double]) { (acc, c) =>
        c.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
      }
    val perPass = traced.map(p => counts(p.span +: spans.filter(_.parent == p.span).map(_.id)))
    for (f <- Seq("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb", "task_failures"))
      m(s"exec.$f") = mean(perPass.map(_.getOrElse(f, 0.0)))
    m("exec.driver_s") = mean(traced.map(p => exec.idleMs(p.startMs, p.endMs) / 1e3))
    m("exec.slot_busy") = m("exec.task_s") / (4 * mean(traced.map(_.wall)))
    m("exec.stage_skew") = exec.stageSkew

    // ---- plans and functions, from the QueryExecutionListener and the log
    m("plans.plan_ms") = Stats.median(traced.flatMap(_.plans))
    m("plans.exchanges") = mean(traced.map(_.exchanges.toDouble))
    m("plans.plan_kb") = mean(traced.map(_.planChars / 1024.0))
    m("functions.reregistered") = mean(passes.map(_.reregistered.toDouble))

    // ---- operators and queries
    val tracedOps = ops.filter(o => o.span >= 0)
    def jobs(o: Main.OpRec) = exec.countsFor(o.span).flatMap(_.get("jobs")).getOrElse(0.0)
    m("operators.actions_per_op") = mean(tracedOps.map(jobs))
    val timedOps = ops.filter(o => !o.warmup && o.error.isEmpty && untraced.exists(_.pass == o.pass))
    // per-query figures of a query mix go to the run record
    val queries = wl match { case qm: QueryMix => qm.order; case _ => Nil }
    queries.foreach { q =>
      m(s"query.$q.s") = Stats.median(timedOps.filter(_.name == q).map(_.seconds))
      m(s"query.$q.jobs") = mean(tracedOps.filter(_.name == q).map(jobs))
    }
    m("operators.dedup_verify_ratio") = tracer.span("operators.dedup_verify", "layer") {
      val q21Rows = wl match { case qm: QueryMix => qm.resultRows.get(QueryMix.Q21); case _ => None }
      QueryMix.dedupVerifyRatio(spark, dataDir, q21Rows)
    }

    // ---- functions: one registration call
    m("functions.register_ms") = tracer.span("functions.register", "layer") {
      perItem(1)({ EntryQueries.ensureRegistered(spark); 1L }) * 1e3
    }

    // ---- core: cell encode and PIP kernels on the seed's image points
    val n = 200000
    val base = java.lang.Math.floorMod(Kernels.mix64(seed), 400000000L)
    val lon = new Array[Double](n); val lat = new Array[Double](n)
    for (i <- 0 until n) {
      val (x, y) = TileIngest.lonLat(base + i)
      lon(i) = x; lat(i) = y
    }
    m("core.cell_encode_ns") = tracer.span("core.cell_encode", "layer") {
      perItem(n)({ var s = 0L; var i = 0; while (i < n) { s ^= CellIndex.encode(lon(i), lat(i), 7); i += 1 }; s }) * 1e9
    }
    val polys = EntryQueries.districtPolygons(spark).collect().map(r => r.getAs[Array[Byte]]("geom"))
    val covers = tracer.span("core.cover", "layer")(polys.map(w => CellIndex.cover(Wkb.read(w), 7)))
    m("core.cover_cells") = covers.map(_.length.toDouble).sum
    val byCell = scala.collection.mutable.HashMap.empty[Long, List[Array[Byte]]]
    polys.zip(covers).foreach { case (w, cs) => cs.foreach(c => byCell(c) = w :: byCell.getOrElse(c, Nil)) }
    val pairs = (0 until n).flatMap(i => byCell.getOrElse(CellIndex.encode(lon(i), lat(i), 7), Nil).map(w => (i, w)))
    val pIdx = pairs.map(_._1).toArray; val pWkb = pairs.map(_._2).toArray
    m("core.pip_ns") = tracer.span("core.pip", "layer") {
      perItem(pIdx.length)({
        var s = 0L; var k = 0
        while (k < pIdx.length) { if (Kernels.containsWkb(pWkb(k), lon(pIdx(k)), lat(pIdx(k)))) s += 1; k += 1 }
        s
      }) * 1e9
    }

    // ---- core and codecs: per-collection GeoJSON / WKT / KML / GPX calls
    val docs = (0 until 200).map(i => CodecData.render(CodecData.collection(seed, 1000000L + i)))
    val nd = docs.size.toLong
    def us(name: String)(body: => Long): Double = tracer.span(name, "layer")(perItem(nd)(body) * 1e6)
    m("core.geojson_read_us") = us("core.geojson_read")(docs.map(d => GeoJson.read(d).features.size.toLong).sum)
    val geoms = docs.map(d => GeoJson.read(d).features.flatMap(_.geometry))
    m("core.wkt_write_us") = us("core.wkt_write")(geoms.map(_.map(g => Wkt.write(g).length.toLong).sum).sum)
    val wkts = geoms.map(_.map(Wkt.write))
    m("core.wkt_read_us") = us("core.wkt_read")(wkts.map(_.map(w => Wkt.parse(w).numPoints.toLong).sum).sum)
    m("codecs.kml_write_us") = us("codecs.kml_write")(docs.map(d => KmlCodec.geojson2Kml(d).length.toLong).sum)
    val kmls = docs.map(d => KmlCodec.geojson2Kml(d))
    m("codecs.kml_read_us") = us("codecs.kml_read")(kmls.map(k => KmlCodec.kml2Geojson(k).render.length.toLong).sum)
    m("codecs.gpx_write_us") = us("codecs.gpx_write")(docs.map(d => GpxCodec.geojson2Gpx(d).length.toLong).sum)
    val gpxs = docs.map(d => GpxCodec.geojson2Gpx(d))
    m("codecs.gpx_read_us") = us("codecs.gpx_read")(gpxs.map(g => GpxCodec.gpx2Geojson(g).render.length.toLong).sum)

    // ---- sources and the pipJoin candidates (tile_ingest)
    wl match {
      case t: TileIngest =>
        val data = t.lastTable.resolve("data")
        val files = {
          val w = Files.walk(data)
          try w.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toVector finally w.close()
        }
        val bytes = files.map(Files.size).sum.toDouble
        m("sources.write_mb") = bytes / 1048576.0
        m("sources.files_written") = files.size.toDouble
        m("sources.bytes_per_row") = bytes / Math.max(1L, t.joinedRows)
        m("sources.manifest_ms") = tracer.span("sources.manifest", "layer") {
          perItem(1, reps = 21)({ SnapshotTable.currentSnapshot(t.lastTable.toString).version.toLong }) * 1e3
        }
        val (sel, tot) = t.readFiles.foldLeft((0, 0)) { case ((a, b), (s, x)) => (a + s, b + x) }
        m("sources.skip_ratio") = 1.0 - sel.toDouble / Math.max(1, tot)
        m("sources.commit_p50_s") = Stats.median(timedOps.filter(_.kind == "commit").map(_.seconds))
        m("sources.read_p50_s") = Stats.median(timedOps.filter(_.kind == "read").map(_.seconds))
        val cands = tracer.span("operators.pip_candidates", "layer") {
          val cells = EntryQueries.districtPolygons(spark)
            .select(explode(st.cellCover(col("geom"), 7)).as("__cell"))
          t.points(spark).withColumn("__cell", st.cellId(col("lon"), col("lat"), 7))
            .join(cells, "__cell").count()
        }
        m("operators.pip_candidates") = cands.toDouble
        m("operators.pip_hit_ratio") = t.joinedRows.toDouble / Math.max(1L, cands)
        // the same pass at local[1]: scaling efficiency (and fingerprint parity)
        val wall1 = tracer.span("exec.local1_pass", "layer")(localOnePass())
        m("exec.scaling_eff") = wall1 / (4 * Stats.median(untraced.map(_.wall)))
      case _ =>
    }

    val wu = Stats.median(untraced.map(_.wall)); val wt = Stats.median(traced.map(_.wall))
    m("trace.wall_untraced_s") = wu
    m("trace.wall_traced_s") = wt
    m("trace.overhead_s") = wt - wu
    m("trace.spans") = tracer.all.size.toDouble
    m.toMap
  }
}
