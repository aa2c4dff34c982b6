package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side: sets up a session, warms up, sets up warm
  * sessions several times, runs one workload as a closed loop of passes for
  * a fixed time, checks every op's output, and writes the run record
  * (metrics, ops, spans) as JSON.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --data <dir> --expected <file>
  *   --fingerprints <file> --record <file> [--smoke] [--plant checksum|fingerprint]
  * or:    graftbench.Main --mode oracle-sql --out <file>
  * or:    graftbench.Main --mode fingerprints --seeds <a-b> --work <dir> --out <file>
  */
object Main {
  final case class OpRec(pass: Int, name: String, kind: String, seconds: Double,
      error: Option[String], rows: Long, info: Map[String, Double], span: Int, warmup: Boolean)
  final case class PassRec(pass: Int, traced: Boolean, wall: Double, rows: Long,
      startMs: Long, endMs: Long, upStartMs: Long, upEndMs: Long, span: Int, reregistered: Long,
      plans: Vector[Double], exchanges: Long, planChars: Long)

  /** Set-ups per run after the cold one; `setup_s` is their median. */
  val Setups = 3
  /** Untimed warm-up before the timed passes: passes for at least this
    * many seconds, at least one (JIT, codegen, plan caches; the set-ups
    * before it have warmed up most of the code already). */
  val WarmupSeconds = 6.0

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sinceJvmStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val opt = parse(args)
    if (opt.get("mode").contains("oracle-sql")) {
      // the DuckDB SQL of the mixes' queries, for perfbench/oracle.py
      val sql = SparkEntry.oracleSql
      Files.write(Paths.get(opt("out")),
        J.obj((Workloads.Spatial ++ Workloads.Dedups).map(q => q -> J.str(sql(q)))).getBytes(UTF_8))
      return
    }
    if (opt.get("mode").contains("fingerprints")) {
      TileIngest.writeFingerprints(opt("seeds"), Paths.get(opt("work")).toAbsolutePath,
        Paths.get(opt("out")))
      return
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val smoke = opt.contains("smoke")
    val plant = opt.get("plant")
    val work = Paths.get(opt("work")).toAbsolutePath
    val dataDir = Paths.get(opt("data")).toAbsolutePath.toString
    Files.createDirectories(work)

    val wl: Workload = workload match {
      case "tile_ingest" => new TileIngest(seed, smoke, work, plant.contains("fingerprint"),
        opt.get("fingerprints").fold(Map.empty[String, String])(f => readFlat(Paths.get(f))))
      case "spatial_queries" | "dedup_closure" =>
        val qs = if (workload == "spatial_queries") Workloads.Spatial else Workloads.Dedups
        new QueryMix(workload, qs, seed, dataDir, readFlat(Paths.get(opt("expected"))),
          plant.contains("checksum"), smoke)
      case "codec_roundtrip" => new CodecRoundtrip(seed, smoke)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tracer = new Tracer(f"${workload}-s$seed-${System.currentTimeMillis()}%d", mainNs)
    val exec = new ExecRecorder
    val plans = new PlanRecorder
    var spark: SparkSession = null
    HeapWatch.install()
    def newSession(master: String): SparkSession = {
      val s = session(master, work)
      s.sparkContext.addSparkListener(exec)
      registerPlans(s)
      val sc = s.sparkContext
      tracer.setProperty = v => sc.setLocalProperty(ExecRecorder.SpanKey, v)
      RegistrationLog.install()
      s
    }
    def registerPlans(s: SparkSession): Unit =
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(plans)
    def stopSession(): Unit = if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = null
    }

    val opRecs = ArrayBuffer.empty[OpRec]
    val passRecs = ArrayBuffer.empty[PassRec]
    val memMb = ArrayBuffer.empty[Double]
    var passNo = 0

    def runOps(ops: Seq[Op], pass: Int, warmup: Boolean): (Double, Long) = {
      var checkNs = 0L
      var rows = 0L
      val t0 = System.nanoTime()
      ops.foreach { op =>
        val span = tracer.nextId
        val s0 = System.nanoTime()
        val res = try Right(tracer.span(op.name, "op")(op.run())) catch { case t: Throwable => Left(t) }
        val lat = (System.nanoTime() - s0) / 1e9
        val c0 = System.nanoTime()
        val err = res match {
          case Left(t) => Some(s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}".take(300))
          case Right(r) => try r.check() catch { case t: Throwable => Some(s"check failed: $t".take(300)) }
        }
        checkNs += System.nanoTime() - c0
        val r = res.toOption
        rows += r.fold(0L)(_.rows)
        opRecs += OpRec(pass, op.name, op.kind, lat, err, r.fold(0L)(_.rows),
          r.fold(Map.empty[String, Double])(_.info), if (tracer.enabled) span else -1, warmup)
        err.foreach(e => System.err.println(s"[graftbench] op ${op.name} failed: $e"))
      }
      ((System.nanoTime() - t0 - checkNs) / 1e9, rows)
    }

    def runPass(withTrace: Boolean): PassRec = {
      tracer.enabled = withTrace
      exec.full = withTrace
      plans.enabled = withTrace
      val p = passNo
      passNo += 1
      val span = tracer.nextId
      val rec0 = exec.recordsRead.get
      val reg0 = RegistrationLog.replaced.get
      val (plan0, ex0, chars0) = plans.snapshot
      val startMs = System.currentTimeMillis()
      val upStartMs = HeapWatch.uptimeMs
      val (wall, opRows) = tracer.span(s"pass_$p", "pass")(runOps(wl.ops(spark, p), p, warmup = false))
      val upEndMs = HeapWatch.uptimeMs
      val endMs = System.currentTimeMillis()
      BenchBus.drain(spark.sparkContext)
      val (plan1, ex1, chars1) = plans.snapshot
      val rec = PassRec(p, withTrace, wall, wl.inputRows(opRows, exec.recordsRead.get - rec0),
        startMs, endMs, upStartMs, upEndMs, if (withTrace) span else -1, RegistrationLog.replaced.get - reg0,
        plan1.drop(plan0.size), ex1 - ex0, chars1 - chars0)
      tracer.enabled = false
      exec.full = false
      plans.enabled = false
      wl.afterPass(p)
      // two collections, so objects freed by Spark's ContextCleaner after
      // the first one are gone too
      System.gc()
      Thread.sleep(50)
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      memMb += heap / 1048576.0
      rec
    }

    // ---- cold set-up: JVM and Spark start, session, function registration,
    // the workload's fixtures and one fixed op. It is in the record as
    // `cold_setup_seconds`, not in `setup_s`: a cold start happens once a
    // process.
    var warm = 0
    def untimedPass(): Unit = {
      warm += 1
      runOps(wl.ops(spark, -warm), -warm, warmup = true)
      wl.afterPass(-warm)
    }
    /** New session, registration, fixtures, fixed op (seconds each). */
    def setUp(i: Int): Seq[Double] = {
      val s0 = System.nanoTime()
      if (i == 0) spark = newSession("local[4]")
      else {
        spark = spark.newSession()
        SparkSession.setActiveSession(spark)
        SparkSession.setDefaultSession(spark)
        registerPlans(spark)
      }
      val s1 = System.nanoTime()
      graft.EntryQueries.ensureRegistered(spark)
      val s2 = System.nanoTime()
      wl.prepare(spark, i)
      val s3 = System.nanoTime()
      runOps(Seq(wl.setupOp(spark, i)), -100 - i, warmup = true)
      val s4 = System.nanoTime()
      Seq(s1 - s0, s2 - s1, s3 - s2, s4 - s3).map(_ / 1e9)
    }
    val coldSteps = setUp(0)
    val coldSeconds = sinceJvmStart + (System.nanoTime() - mainNs) / 1e9

    // ---- set-ups in the running JVM, timed: `setup_s` is their median.
    // Then untimed warm-up passes in the last set-up's session, which runs
    // the timed passes.
    val setupSteps = (1 to Setups).map(setUp)
    val setupSeconds = setupSteps.map(_.sum)
    val w0 = System.nanoTime()
    do untimedPass() while ((System.nanoTime() - w0) / 1e9 < WarmupSeconds)
    val warmupSeconds = (System.nanoTime() - w0) / 1e9
    val readySeconds = sinceJvmStart + (System.nanoTime() - mainNs) / 1e9
    System.gc()

    // ---- timed region: closed loop of passes. A traced run alternates
    // untraced and traced passes (u t t u u t t u ...), so both see the same
    // warm-up drift and host windows, and runs at least four of each, so
    // that one slow pass does not set either median.
    val t0 = System.nanoTime()
    var k = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    do {
      passRecs += runPass(withTrace = traced && (k % 4 == 1 || k % 4 == 2))
      k += 1
    } while (elapsed < seconds || (traced && (k < 8 || k % 4 != 0)))
    val timedNs = System.nanoTime() - t0

    // ---- traced run: layer calls and per-layer metrics
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        tracer.enabled = true
        tracer.span("layers", "layers") {
          Layers.collect(spark, wl, tracer, seed, dataDir, passRecs.toSeq, opRecs.toSeq, exec, () => {
            stopSession()
            spark = newSession("local[1]")
            graft.EntryQueries.ensureRegistered(spark)
            wl.prepare(spark, Setups + 1)
            val (wall, _) = runOps(wl.ops(spark, passNo), passNo, warmup = true)
            wl.afterPass(passNo)
            passNo += 1
            wall
          })
        } + ("fail_ratio" -> opRecs.count(_.error.nonEmpty).toDouble / Math.max(1, opRecs.size))
      }
    tracer.enabled = false
    tracer.finish()
    if (traced) tracer.all.foreach(s => exec.countsFor(s.id).foreach(c => s.counts ++= c))
    stopSession()

    // ---- end-to-end metrics from the untraced passes
    val timed = passRecs.filter(!_.traced).toSeq
    val timedPasses = timed.map(_.pass).toSet
    val lat = opRecs.filter(o => !o.warmup && o.error.isEmpty && timedPasses(o.pass)).map(_.seconds).sorted.toSeq
    val (tail, tailPct, tailBeyond) = Stats.tail(lat)
    val attempted = opRecs.size
    val failed = opRecs.count(_.error.nonEmpty)
    // peak heap: the largest heap in use after a collection, over the
    // collections that ended during an untraced timed pass and the forced
    // ones that follow each pass
    val heapAfterGc = HeapWatch.usedAfterGc(timed.map(p => (p.upStartMs, p.upEndMs))).map(_ / 1048576.0)
    val memPeak = (heapAfterGc ++ memMb.zip(passRecs).collect { case (m, p) if !p.traced => m }).max
    val e2e = Seq(
      "setup_s" -> (Stats.median(setupSeconds.toSeq), "s"),
      "wall_s" -> (Stats.median(timed.map(_.wall)), "s"),
      "op_p50_s" -> (Stats.median(lat), "s"),
      "op_tail_s" -> (tail, "s"),
      "rows_per_s" -> (Stats.median(timed.map(_.rows.toDouble)) / Stats.median(timed.map(_.wall)), "rows/s"),
      "mem_peak_mb" -> (memPeak, "MB"))
    val metrics: Seq[(String, (Double, String))] =
      if (traced) Layers.PerLayer.map { case (n, u) => n -> (layers.getOrElse(n, 0.0), u) } else e2e

    def metricsJson(ms: Seq[(String, (Double, String))]) = J.obj(ms.map { case (n, (v, u)) =>
      n -> J.obj(Seq("value" -> J.num(v), "unit" -> J.str(u)))
    })
    val summary = J.obj(Seq(
      "correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricsJson(metrics)))
    val record = J.obj(Seq(
      "workload" -> J.str(workload), "seed" -> seed.toString, "seconds" -> J.num(seconds),
      "trace" -> traced.toString, "smoke" -> smoke.toString, "plant" -> plant.fold("null")(J.str),
      "summary" -> summary,
      "end_to_end" -> metricsJson(e2e),
      "op_tail" -> J.obj(Seq("percentile" -> J.num(tailPct), "samples_beyond" -> tailBeyond.toString,
        "samples" -> lat.size.toString)),
      "fail_ratio" -> J.num(failed.toDouble / Math.max(1, attempted)),
      "setup_seconds" -> J.arr(setupSeconds.map(J.num)),
      "cold_setup_seconds" -> J.num(coldSeconds),
      "warmup_seconds" -> J.num(warmupSeconds),
      "ready_seconds" -> J.num(readySeconds),
      "jvm_start_seconds" -> J.num(sinceJvmStart),
      "setup_steps" -> J.arr((coldSteps +: setupSteps).map(st => J.obj(Seq("session", "registration",
        "fixtures", "op").zip(st.map(J.num))))),
      "timed_seconds" -> J.num(timedNs / 1e9),
      "passes" -> J.arr(passRecs.map(p => J.obj(Seq("pass" -> p.pass.toString, "traced" -> p.traced.toString,
        "wall_s" -> J.num(p.wall), "rows" -> p.rows.toString, "reregistered" -> p.reregistered.toString)))),
      "mem_mb_after_pass" -> J.arr(memMb.map(J.num)),
      "mem_mb_after_gc_in_passes" -> J.arr(heapAfterGc.map(J.num)),
      "ops" -> J.arr(opRecs.map(o => J.obj(Seq("pass" -> o.pass.toString, "name" -> J.str(o.name),
        "kind" -> J.str(o.kind), "seconds" -> J.num(o.seconds), "rows" -> o.rows.toString,
        "warmup" -> o.warmup.toString, "error" -> o.error.fold("null")(J.str),
        "info" -> J.obj(o.info.map { case (k, v) => k -> J.num(v) }))))),
      "workload_facts" -> J.obj(wl.record),
      "per_layer" -> J.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) }),
      "spans" -> (if (traced) tracer.toJson else "[]")))
    Files.write(Paths.get(opt("record")), record.getBytes(UTF_8))
    println(summary)
  }

  /** A local session with the benchmark's settings. */
  def session(master: String, work: Path): SparkSession = {
    val s = SparkSession.builder().master(master).appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { m(k) = args(i + 1); i += 2 }
      else { m(k) = "true"; i += 1 }
    }
    m.toMap
  }

  /** A flat JSON object of "key": "rows:hex" (expected checksums and
    * reference fingerprints). */
  def readFlat(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else "\"([a-z0-9_/]+)\"\\s*:\\s*\"([0-9]+:[0-9a-f]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank 90th percentile of sorted latencies: (value, percentile,
    * samples beyond it). */
  def tail(sorted: Seq[Double]): (Double, Double, Int) =
    if (sorted.isEmpty) (0.0, 0.0, 0)
    else {
      val i = Math.ceil(0.9 * sorted.size).toInt - 1
      (sorted(i), 90.0, sorted.size - 1 - i)
    }
}
